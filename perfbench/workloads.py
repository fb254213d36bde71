"""The benchmark's workloads. Each returns a ``Result``.

``warehouse_batch`` runs the ten reference DWD/DWS headline queries, in a
seeded order per pass, each to the noop sink; a cold pass collects every
result for the DuckDB oracle check. ``warehouse_stream`` replays the events
table, mapped to the page-log shape, as in-order slices through the streaming
twin of the traffic page-view window; every replay is checked against the
same pipeline run in batch. Both run untimed warm passes before the clock
starts.

Both are closed loops with one client: the next operation starts only after
the previous one has finished.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from gmall_flink_realtime4_spark import tables as T
from gmall_flink_realtime4_spark.pipelines import dws
from gmall_flink_realtime4_spark.plans.catalog import oracles, queries
from gmall_flink_realtime4_spark.streaming.runner import (
    empty_stream_dir,
    run_to_memory,
    stream_parquet_source,
)

from layers import ProgressListener, StageReader, Tracer
from parity import compare, duck_run

WAREHOUSE_QUERIES = (
    "dwd_trade_order_detail",
    "dwd_trade_order_pay_suc_detail",
    "dwd_base_log_page",
    "dws_trade_sku_order_window",
    "dws_trade_province_order_window",
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    "dws_user_user_login_window",
    "dws_sliding_window_events",
    "dws_session_window_events",
    "dws_user_event_funnel",
)

# untimed passes after the cold one, before the clock starts
BATCH_WARM_PASSES = 1
STREAM_WARM_REPLAYS = 1
STREAM_SLICES = 3
STREAM_COLS = ("stt", "vc", "ch", "ar", "is_new", "uv_ct", "sv_ct", "pv_ct", "dur_sum")
FLUSH_VC = "v9"


@dataclass
class Result:
    setup_end: float = 0.0  # perf_counter when the first timed operation starts
    warmup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # end-to-end: name -> (value, unit)
    layers: dict = field(default_factory=dict)  # per-layer: name -> (value, unit)
    extra: dict = field(default_factory=dict)  # per-workload detail for the trace file

    def check(self, what: str, problems: list) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: " + " | ".join(problems))


class Run:
    """What a workload needs: the session, its inputs and the readers."""

    def __init__(self, spark, sf_dir, work_dir, seed, seconds, trace, corrupt, rows):
        self.spark, self.sf_dir, self.work_dir = spark, sf_dir, work_dir
        self.seed, self.seconds, self.corrupt, self.rows = seed, seconds, corrupt, rows
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer = Tracer(trace)
        self.reader = StageReader(spark) if trace else None
        self.trace_id = "setup"
        self._orig_load = T.load
        self.loaded: list[str] = []

    @contextmanager
    def phase(self, span: str, trace_id: str, group: str | None = None, **attrs):
        """A span around one call into a layer, under its own job group."""
        self.trace_id = trace_id
        if self.reader and group:
            self.reader.set_group(group)
        try:
            with self.tracer.span(span, trace_id, **attrs):
                yield
        finally:
            if self.reader and group:
                self.reader.clear_group()

    def watch_loads(self, on: bool) -> None:
        """Route ``tables.load`` through a wrapper that notes each table
        (and, when tracing, records a span per call)."""
        if not on:
            T.load = self._orig_load
            return
        orig = self._orig_load

        def load(*args, **kwargs):
            name = kwargs["name"] if "name" in kwargs else args[2]
            self.loaded.append(name)
            with self.tracer.span("tables.load", self.trace_id, table=name):
                return orig(*args, **kwargs)

        T.load = load

    def expected(self, frame):
        """A deliberately wrong expectation when the checker is under test."""
        if not self.corrupt:
            return frame
        return frame.iloc[:-1] if len(frame) else frame.reindex([0])


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int) -> int | None:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    ok = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100 >= 10]
    return ok[-1] if ok else None


def _timing_summary(xs: list[float]) -> dict:
    n = len(xs)
    out = {"n": n, "p50": _median(xs)}
    if n >= 2:
        q = statistics.quantiles(xs, n=4)
        out["q1"], out["q3"] = q[0], q[2]
    p = tail_percentile(n)
    if p is not None:
        out["tail_percentile"] = p
        out["tail"] = statistics.quantiles(xs, n=100)[p - 1]
    return out


# --------------------------------------------------------------------------
# warehouse_batch
# --------------------------------------------------------------------------


def warehouse_batch(run: Run) -> Result:
    res = Result()
    spark, sf = run.spark, run.sf_dir
    qs = queries()
    names = list(WAREHOUSE_QUERIES)

    # warm-up: each query once, collected for the oracle check (untimed)
    got, reads = {}, {}
    run.watch_loads(True)
    t = time.perf_counter()
    for n in names:
        run.loaded = []
        try:
            with run.phase("plans.warmup", f"warmup:{n}", f"pb:warmup:{n}", query=n):
                got[n] = qs[n](spark, sf).toPandas()
        except Exception:
            got[n] = traceback.format_exc(limit=3)
        reads[n] = set(run.loaded)
    run.watch_loads(run.tracer.enabled)

    def one(p, n: str) -> dict:
        """Build one query, then run its action to the noop sink."""
        tid = f"p{p}:{n}"
        op = {"query": n, "pass": p, "trace": tid}
        run.loaded = []
        try:
            with run.tracer.span("op", tid, query=n):
                t0 = time.perf_counter()
                with run.phase("plans.build", tid, f"pb:{tid}:build", query=n):
                    df = qs[n](spark, sf)
                t1 = time.perf_counter()
                with run.phase("plans.action", tid, f"pb:{tid}:action", query=n):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            op.update(build_s=t1 - t0, action_s=t2 - t1, s=t2 - t0)
        except Exception:
            op["error"] = traceback.format_exc(limit=3)
        res.check(f"{n} pass {p}", [op["error"]] if "error" in op else [])
        return op

    # untimed warm passes: after the cold pass the JIT is still compiling
    # the planner's hot paths and each pass runs faster than the one before
    rng = random.Random(run.seed)
    for w in range(BATCH_WARM_PASSES):
        for n in rng.sample(names, len(names)):
            one(f"w{w}", n)
    res.warmup_s = time.perf_counter() - t

    # timed passes: a seeded permutation per pass; the first pass always
    # completes, later ones stop at the deadline
    ops = []
    res.setup_end = time.perf_counter()
    deadline = res.setup_end + run.seconds
    p = 0
    while p == 0 or time.perf_counter() < deadline:
        for n in rng.sample(names, len(names)):
            if p > 0 and time.perf_counter() >= deadline:
                break
            ops.append(one(p, n))
        p += 1

    # correctness: every query against its DuckDB oracle (untimed)
    ors = oracles()
    for n in names:
        if isinstance(got[n], str):
            res.check(f"{n} oracle", [got[n]])
            continue
        try:
            problems = compare(n, got[n], run.expected(duck_run(sf, ors[n])))
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        res.check(f"{n} oracle", problems)

    good = [o for o in ops if "s" in o]
    per_q = {n: [o for o in good if o["query"] == n] for n in names}
    med = {n: _median([o["s"] for o in per_q[n]]) for n in names}
    pass_s = sum(med.values())
    records = sum(run.rows[t] for n in names for t in reads[n] if t in run.rows)
    lat = _timing_summary([o["s"] for o in good])
    res.metrics = {
        "pass_s": (pass_s, "s"),
        "records_per_s": (records / pass_s if pass_s else 0.0, "1/s"),
        # median over queries, each at its own median, so that the extra
        # operations of a partial pass do not tilt the query mix
        "batch_s.p50": (_median(list(med.values())), "s"),
    }
    res.extra = {
        "passes": p,
        "op_s": lat,
        "records_per_pass": records,
        "query_s": {n: {"n": len(per_q[n]), "p50": med[n]} for n in names},
    }
    if run.tracer.enabled:
        _batch_layers(run, res, per_q, pass_s)
    return res


def _batch_layers(run: Run, res: Result, per_q: dict, pass_s: float) -> None:
    groups = [f"pb:{o['trace']}:{ph}" for os_ in per_q.values() for o in os_
              for ph in ("build", "action")]
    stage = run.reader.read(groups)
    per_query = {}
    for n, os_ in per_q.items():
        rows = []
        for o in os_:
            b, a = stage[f"pb:{o['trace']}:build"], stage[f"pb:{o['trace']}:action"]
            calls, load_s = run.tracer.total("tables.load", {o["trace"]})
            rows.append({
                "build_s": o["build_s"], "action_s": o["action_s"],
                "build_jobs": b["jobs"], "action_jobs": a["jobs"],
                "action_stages": a["stages"], "action_tasks": a["tasks"],
                "task_s": a["task_s"] + b["task_s"],
                "shuffle_read_mb": a["shuffle_read_mb"] + b["shuffle_read_mb"],
                "shuffle_write_mb": a["shuffle_write_mb"] + b["shuffle_write_mb"],
                "spill_mb": a["spill_mb"] + b["spill_mb"],
                "peak_exec_mem_mb": max(a["peak_exec_mem_mb"], b["peak_exec_mem_mb"]),
                "straggler_ratio": max(a["straggler_ratio"], b["straggler_ratio"]),
                "load_calls": calls, "load_s": load_s,
            })
        per_query[n] = {k: _median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    res.extra["per_query"] = per_query

    def total(k):
        return sum(q.get(k, 0.0) for q in per_query.values())

    def worst(k):
        return max((q.get(k, 0.0) for q in per_query.values()), default=0.0)

    task_s = total("task_s")
    res.layers = {
        "tables.load.calls": (total("load_calls"), "count"),
        "tables.load_s": (total("load_s"), "s"),
        "plans.build_s": (total("build_s"), "s"),
        "plans.build_jobs": (total("build_jobs"), "count"),
        "plans.action_s": (total("action_s"), "s"),
        "plans.action_jobs": (total("action_jobs"), "count"),
        "plans.action_stages": (total("action_stages"), "count"),
        "plans.action_tasks": (total("action_tasks"), "count"),
        "plans.task_s": (task_s, "s"),
        "plans.core_busy_share": (task_s / (pass_s * run.cores) if pass_s else 0.0, "share"),
        "plans.shuffle_read_mb": (total("shuffle_read_mb"), "MiB"),
        "plans.shuffle_write_mb": (total("shuffle_write_mb"), "MiB"),
        "plans.spill_mb": (total("spill_mb"), "MiB"),
        "plans.straggler_ratio": (worst("straggler_ratio"), "ratio"),
        "plans.peak_exec_mem_mb": (worst("peak_exec_mem_mb"), "MiB"),
    }


# --------------------------------------------------------------------------
# warehouse_stream
# --------------------------------------------------------------------------


def _page_log(events):
    """events -> the page-log shape the traffic window reads (common/page
    structs, epoch-millisecond ts), with the same dims as the batch query
    ``dws_traffic_vc_ch_ar_is_new_page_view_window``."""
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select(
        F.struct(
            F.col("user_id").cast("string").alias("mid"),
            F.concat(F.lit("v"), (k % 3).cast("string")).alias("vc"),
            F.col("event_type").alias("ch"),
            (F.col("user_id") % 5).cast("string").alias("ar"),
            F.when(k < 50, "1").otherwise("0").alias("is_new"),
        ).alias("common"),
        F.struct(
            F.when(F.col("event_id") % 3 != 0, F.lit("home")).alias("last_page_id"),
            F.round(F.col("value") * 100).cast("bigint").alias("during_time"),
        ).alias("page"),
        F.expr("unix_millis(cast(ts as timestamp))").alias("ts"),
    )


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*[F.col(c).cast("string") for c in STREAM_COLS]).collect())


def _cuts(rng: random.Random, n: int, k: int) -> list[int]:
    """k contiguous slices: equal widths jittered by up to 30 % either way."""
    w = n / k
    inner = [round(i * w + rng.uniform(-0.3, 0.3) * w) for i in range(1, k)]
    return [0, *inner, n]


def warehouse_stream(run: Run) -> Result:
    res = Result()
    spark = run.spark
    listener = None
    if run.tracer.enabled:
        listener = ProgressListener()
        spark.streams.addListener(listener)

    # input staging: events through the tables layer, mapped once, then
    # sorted by event time for in-order replay
    full_dir = os.path.join(run.work_dir, "page_log")
    run.watch_loads(True)
    with run.phase("staging", "setup", "pb:staging"):
        page = _page_log(T.load(spark, run.sf_dir, "events", spread=False))
        page.coalesce(1).write.mode("overwrite").parquet(full_dir)
    run.watch_loads(False)
    load_calls, load_s = run.tracer.total("tables.load", {"setup"})
    schema = page.schema
    table = pq.read_table(full_dir).sort_by("ts")
    n_rows = table.num_rows
    flush = table.slice(0, 1).to_pylist()[0]
    flush["common"]["vc"] = FLUSH_VC
    flush["ts"] = table["ts"][-1].as_py() + 10 * 86_400_000
    flush = pa.Table.from_pylist([flush], schema=table.schema)

    # correctness reference: the same pipeline in batch mode (untimed)
    with run.phase("plans.twin", "setup", "pb:twin"):
        expected = _rows(dws.traffic_vc_ch_ar_is_new_page_view_window(
            spark.read.parquet(full_dir), window="1 day", streaming=False))
    if run.corrupt:
        expected = expected[:-1]

    rng = random.Random(run.seed)
    staging = os.path.join(run.work_dir, "slices")
    os.makedirs(staging, exist_ok=True)
    passes: list[dict] = []

    def replay(p: int) -> dict:
        cuts = _cuts(rng, n_rows, STREAM_SLICES)
        files = []
        for i in range(STREAM_SLICES):
            f = os.path.join(staging, f"p{p}-{i:03d}.parquet")
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), f)
            files.append(f)
        f = os.path.join(staging, f"p{p}-flush.parquet")
        pq.write_table(flush, f)
        files.append(f)
        src = empty_stream_dir(run.work_dir)
        marks: list[tuple[float, float]] = []

        def stage(path):
            def commit():
                t = time.perf_counter()
                os.rename(path, os.path.join(src, os.path.basename(path)))
                marks.append((t, time.perf_counter()))
            return commit

        stages = [stage(f) for f in files] + [lambda: marks.append((time.perf_counter(), 0.0))]
        name = f"pb_ws_{os.getpid()}_{p}"
        tid = f"p{p}"
        with run.tracer.span("streaming.pass", tid):
            t0 = time.perf_counter()
            with run.phase("plans.build", tid, f"pb:{tid}:build"):
                sdf = dws.traffic_vc_ch_ar_is_new_page_view_window(
                    stream_parquet_source(spark, src, schema, 1000),
                    window="1 day", streaming=True)
            with run.phase("streaming.run_to_memory", tid):
                out = run_to_memory(sdf, "append", name=name, stages=stages)
            wall = time.perf_counter() - t0
        got = _rows(out.filter(F.col("vc") != FLUSH_VC))
        spark.catalog.dropTempView(name)
        drains = [marks[i + 1][0] - marks[i][1] for i in range(len(files))]
        return {"pass": p, "name": name, "s": wall, "drain_s": drains[:STREAM_SLICES],
                "flush_s": drains[-1], "rows": [cuts[i + 1] - cuts[i] for i in range(STREAM_SLICES)],
                "problems": [] if got == expected else
                [f"streamed {len(got)} rows != batch twin {len(expected)} rows"
                 if len(got) != len(expected) else "streamed rows differ from the batch twin"]}

    def attempt(p: int) -> dict:
        try:
            return replay(p)
        except Exception:
            return {"pass": p, "problems": [traceback.format_exc(limit=3)]}

    # replay 0 is cold; the warm replays after it are untimed too
    t = time.perf_counter()
    for p in range(1 + STREAM_WARM_REPLAYS):
        res.check(f"replay {p} (warm-up)", attempt(p)["problems"])
    res.warmup_s = time.perf_counter() - t

    res.setup_end = time.perf_counter()
    deadline = res.setup_end + run.seconds
    first = p = 1 + STREAM_WARM_REPLAYS
    while p == first or time.perf_counter() < deadline:
        r = attempt(p)
        res.check(f"replay {p}", r["problems"])
        passes.append(r)
        p += 1

    good = [r for r in passes if "s" in r]
    drains = [d for r in good for d in r["drain_s"]]
    rows = sum(sum(r["rows"]) for r in good)
    lat = _timing_summary(drains)
    pass_s = _median([r["s"] for r in good])
    res.metrics = {
        "pass_s": (pass_s, "s"),
        "records_per_s": (rows / sum(drains) if drains else 0.0, "1/s"),
        "batch_s.p50": (lat["p50"], "s"),
    }
    res.extra = {"passes": len(passes), "batch_s": lat, "rows_per_replay": n_rows,
                 "flush_s": _median([r["flush_s"] for r in good])}
    if run.tracer.enabled:
        _stream_layers(run, res, listener, good, pass_s, load_calls, load_s)
    return res


def _stream_layers(run, res, listener, good, pass_s, load_calls, load_s) -> None:
    per_pass = []
    for r in good:
        prog = []
        for run_id, ps in listener.progress.items():
            if ps and ps[0].name == r["name"]:
                listener.wait_terminated(run_id)
                prog = sorted(listener.progress[run_id], key=lambda x: x.batchId)
                r["run_id"] = run_id
        tid = f"p{r['pass']}"
        stage = run.reader.read([f"pb:{tid}:build", r.get("run_id", "-")])
        a = stage[r.get("run_id", "-")]
        b = stage[f"pb:{tid}:build"]
        _, build_py = run.tracer.total("plans.build", {tid})
        data = [x for x in prog if x.numInputRows > 0]
        trig = [x.durationMs.get("triggerExecution", 0) for x in data]
        addb = [x.durationMs.get("addBatch", 0) for x in data]
        ops = [op for x in prog[-1:] for op in x.stateOperators]
        per_pass.append({
            "build_s": build_py + sum(x.durationMs.get("queryPlanning", 0) for x in prog) / 1e3,
            "build_jobs": b["jobs"],
            "action_s": sum(x.durationMs.get("addBatch", 0) for x in prog) / 1e3,
            "action_jobs": a["jobs"], "action_stages": a["stages"], "action_tasks": a["tasks"],
            "task_s": a["task_s"], "shuffle_read_mb": a["shuffle_read_mb"],
            "shuffle_write_mb": a["shuffle_write_mb"], "spill_mb": a["spill_mb"],
            "peak_exec_mem_mb": a["peak_exec_mem_mb"], "straggler_ratio": a["straggler_ratio"],
            "streaming.batches": len(prog),
            "streaming.trigger_ms.p50": _median(trig),
            "streaming.add_batch_ms.p50": _median(addb),
            "streaming.trigger_overhead_ms.p50": _median([t - a_ for t, a_ in zip(trig, addb)]),
            "streaming.state_rows": sum(op.numRowsTotal for op in ops),
            "streaming.state_mem_mb": sum(op.memoryUsedBytes for op in ops) / 2**20,
            "streaming.rows_dropped_by_watermark": sum(
                op.numRowsDroppedByWatermark for x in prog for op in x.stateOperators),
        })
    for r, pp in zip(good, per_pass):  # an in-order replay drops nothing
        dropped = pp["streaming.rows_dropped_by_watermark"]
        res.check(f"replay {r['pass']} watermark", [f"{dropped} rows dropped"] if dropped else [])
    med = {k: _median([pp[k] for pp in per_pass]) for k in per_pass[0]} if per_pass else {}
    res.extra["streaming"] = {k: v for k, v in med.items() if k.startswith("streaming.")}
    g = med.get
    res.layers = {
        "tables.load.calls": (load_calls, "count"),
        "tables.load_s": (load_s, "s"),
        "plans.build_s": (g("build_s", 0.0), "s"),
        "plans.build_jobs": (g("build_jobs", 0), "count"),
        "plans.action_s": (g("action_s", 0.0), "s"),
        "plans.action_jobs": (g("action_jobs", 0), "count"),
        "plans.action_stages": (g("action_stages", 0), "count"),
        "plans.action_tasks": (g("action_tasks", 0), "count"),
        "plans.task_s": (g("task_s", 0.0), "s"),
        "plans.core_busy_share": (g("task_s", 0.0) / (pass_s * run.cores) if pass_s else 0.0, "share"),
        "plans.shuffle_read_mb": (g("shuffle_read_mb", 0.0), "MiB"),
        "plans.shuffle_write_mb": (g("shuffle_write_mb", 0.0), "MiB"),
        "plans.spill_mb": (g("spill_mb", 0.0), "MiB"),
        "plans.straggler_ratio": (g("straggler_ratio", 1.0), "ratio"),
        "plans.peak_exec_mem_mb": (g("peak_exec_mem_mb", 0.0), "MiB"),
    }


WORKLOADS = {"warehouse_batch": warehouse_batch, "warehouse_stream": warehouse_stream}
