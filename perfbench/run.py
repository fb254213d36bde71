"""Benchmark of the warehouse engine: one workload per process.

    python3 perfbench/run.py --workload warehouse_batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Run from the root of a checkout. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. Notes,
the environment and per-workload detail go to standard error; a traced run
also writes its spans and detail under ``.perfbench_run/``. The exit code is
0 only when every output matched its reference.

``--workload all`` runs every workload untraced and traced, each in a fresh
process, and prints one table of all metrics with the tracing overhead
(traced minus untraced) of each end-to-end metric.

See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("warehouse_batch", "warehouse_stream")
DEFAULT_SCALE = 0.01


def _process_start() -> float:
    """time.time() of this process's start, from /proc (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration, IndexError):
        return time.time()


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal"))


def pin_environment(work_dir: str) -> dict:
    """Size the engine from this machine rather than from its defaults, and
    keep every file the run writes inside ``work_dir``."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(4096, _mem_total_mb() // 8))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # the JVM's own scratch files, and no per-JVM perf-data file
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return {"cpus": cpus, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def stop_engine(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run_one(args) -> int:
    t_start = _process_start()
    t_main = time.time()
    if not (os.path.isdir(os.path.join(ROOT, "gmall_flink_realtime4_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "parity.py"))):
        print("engine sources not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    run_root = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(run_root, f"{args.workload}-{os.getpid()}")
    env = pin_environment(work)
    load_before = os.getloadavg()[0]
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

    import datagen

    spark = None
    try:
        t = time.time()
        sf_dir = os.path.join(work, "data")
        rows = datagen.generate(sf_dir, args.seed, args.scale)
        datagen_s = time.time() - t

        import workloads
        from gmall_flink_realtime4_spark.session import get_spark
        from layers import tree_peak_rss_mb

        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t
        run = workloads.Run(spark, sf_dir, work, args.seed, args.seconds,
                            bool(args.trace), args.corrupt_expected, rows)
        res = workloads.WORKLOADS[args.workload](run)
        setup_s = res.setup_end - time.perf_counter() + time.time() - t_start
        env.update(default_parallelism=spark.sparkContext.defaultParallelism,
                   load_avg_before=load_before, load_avg_after=os.getloadavg()[0])
        peak_rss = tree_peak_rss_mb()
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    res.metrics["setup_s"] = (setup_s, "s")
    res.layers.update({
        "session.get_spark_s": (get_spark_s, "s"),
        "session.warmup_s": (res.warmup_s, "s"),
        "peak_rss_mb": (peak_rss, "MiB"),
    })
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "env": env,
        "interpreter_s": t_main - t_start, "datagen_s": datagen_s,
        "rows": rows, "problems": res.problems, **res.extra,
    }
    for p in res.problems:
        print(f"# MISMATCH {p}", file=sys.stderr)
    # the traced run also reports its end-to-end numbers, for the overhead
    print("# e2e " + json.dumps({k: v for k, (v, _) in res.metrics.items()}), file=sys.stderr)
    print("# detail " + json.dumps(detail, default=str), file=sys.stderr)
    if args.trace:
        os.makedirs(run_root, exist_ok=True)
        stem = os.path.join(run_root, f"trace-{args.workload}-{args.seed}")
        run.tracer.write(stem + ".spans.jsonl")
        with open(stem + ".json", "w") as f:
            json.dump({**detail, "layers": res.layers}, f, indent=1, default=str)
    shown = res.layers if args.trace else res.metrics
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0 if res.failed == 0 else 1


def _child(args, workload: str, trace: int) -> tuple[int, dict, dict]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--scale", str(args.scale)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1:] or ["{}"]
    e2e = next((json.loads(line[6:]) for line in p.stderr.splitlines()
                if line.startswith("# e2e ")), {})
    for line in p.stderr.splitlines():
        if line.startswith("# MISMATCH"):
            print(f"{workload}: {line[2:]}", file=sys.stderr)
    return p.returncode, json.loads(last[0]), e2e


def run_all(args) -> int:
    """Every workload untraced and traced, each in a fresh process."""
    status = 0
    for w in WORKLOADS:
        rc0, plain, _ = _child(args, w, 0)
        rc1, traced, traced_e2e = _child(args, w, 1)
        status |= rc0 | rc1
        print(f"== {w}: correct={plain.get('correct')} attempted={plain.get('attempted')} "
              f"failed={plain.get('failed')} (traced: correct={traced.get('correct')})")
        for k, m in plain.get("metrics", {}).items():
            over = traced_e2e.get(k)
            diff = "" if over is None else f"  traced-untraced {over - m['value']:+.4f}"
            print(f"  {k:36s} {m['value']:14.4f} {m['unit']}{diff}")
        for k, m in traced.get("metrics", {}).items():
            print(f"  {k:36s} {m['value']:14.4f} {m['unit']}")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                    help="input size, as a TPC-H scale factor")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb every reference result (tests the checker)")
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
