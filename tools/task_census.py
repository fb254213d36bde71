"""Per-stage TASK-TIME census of one query run — the r11 ad-hoc
event-log methodology as a reusable tool (r12). A wall-clock number
cannot distinguish "stage is evenly spread" from "one straggler task
carries it"; this runs ONE query in a fresh session with the Spark
event log enabled, then parses SparkListenerTaskEnd records into a
per-stage profile: task count, total/mean/max executor run time, and
the max/mean ratio (the straggler signal — ~1.0x means AQE/partitioning
spread the stage; >>1 means a hot key or a parallelism ceiling).

Usage: python tools/task_census.py <sf_dir> <query> [top_n=10]
Prints one JSON line {"query", "sf_dir", "wall_sec", "stages": [...]}
with stages sorted by total task time (top_n rows); human-readable
rows on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir, name = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    log_dir = tempfile.mkdtemp(prefix="task_census_")
    from pyspark.sql import SparkSession

    from gmall_flink_realtime4_spark.session import (
        apply_runtime_confs,
        cpus,
        owned_confs,
    )

    builder = SparkSession.builder.appName("task_census").master(
        f"local[{cpus()}]"
    )
    for k, v in owned_confs().items():
        builder = builder.config(k, v)
    builder = builder.config("spark.eventLog.enabled", "true")
    builder = builder.config("spark.eventLog.dir", f"file:{log_dir}")
    # one plain JSON-lines file (rolling v2 logs come zstd-compressed)
    builder = builder.config("spark.eventLog.compress", "false")
    builder = builder.config("spark.eventLog.rolling.enabled", "false")
    spark = apply_runtime_confs(builder.getOrCreate())

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from tools.isopair import warm_up

    qs = queries()
    # the query-neutral warm-up, then ONE untimed rep so the censused run
    # measures steady-state tasks, not JIT/codegen
    warm_up(spark, sf_dir)
    qs[name](spark, sf_dir).count()
    # job-group the censused rep so warm-up stages can be excluded
    spark.sparkContext.setJobGroup("census", name)
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).count()
    wall = round(time.perf_counter() - t0, 2)
    spark.stop()  # flushes + finalizes the event log

    stages: dict[int, dict] = {}
    census_stage_ids: set[int] = set()
    # Spark 4 writes rolling event-log DIRECTORIES
    # (eventlog_v2_<app>/events_1_...); walk and read every event file
    log_files = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(log_dir)
        for f in files
        if not f.startswith("appstatus_")
    ]
    for path in log_files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == "census":
                        for si in ev.get("Stage Infos", []):
                            census_stage_ids.add(si["Stage ID"])
                elif e == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    rt = m.get("Executor Run Time", 0)
                    st = stages.setdefault(
                        sid, {"stage": sid, "tasks": 0, "total_ms": 0,
                              "max_ms": 0}
                    )
                    st["tasks"] += 1
                    st["total_ms"] += rt
                    st["max_ms"] = max(st["max_ms"], rt)
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si["Stage ID"] in stages:
                        stages[si["Stage ID"]]["name"] = si.get(
                            "Stage Name", ""
                        )[:80]

    rows = [s for sid, s in stages.items() if sid in census_stage_ids]
    for s in rows:
        s["mean_ms"] = round(s["total_ms"] / max(s["tasks"], 1))
        s["max_over_mean"] = round(s["max_ms"] / max(s["mean_ms"], 1), 2)
    rows.sort(key=lambda s: -s["total_ms"])
    for s in rows[:top_n]:
        print(
            f"# stage {s['stage']}: {s['tasks']} tasks, total"
            f" {s['total_ms'] / 1000:.1f}s, mean {s['mean_ms']}ms, max"
            f" {s['max_ms']}ms ({s['max_over_mean']}x) {s.get('name', '')}",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "wall_sec": wall,
                "stages": rows[:top_n],
            }
        )
    )


if __name__ == "__main__":
    main()
