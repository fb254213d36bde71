"""Isolated warm-pair timing: one query, one codebase, one fresh session.

The SCALE.md arbitration methodology in executable form: start a FRESH
JVM/session, run the bench-identical query-neutral warm-up (scan + shuffle
hash-agg + broadcast join + Arrow worker spin-up), then untimed reps of the
query itself until one is no faster than the rep before it (at most
``reps`` of them: at sf0.1 a session keeps warming up for several reps),
then N timed reps; print min/median so an old-vs-new pair of invocations
(alternated, same machine window) reads as a controlled comparison rather
than a sweep-adjacency artifact.

Usage: python tools/isopair.py <repo_dir> <sf_dir> <query> [reps=5]
Prints one JSON line: {"query", "repo", "sf_dir", "warm_reps", "reps":
[...], "best", "median", "load1": <1-min load avg before the session
exists>}.

The timed action writes the query to the ``noop`` sink, so every
output row and column is computed (``count()`` would let the optimizer
skip aggregate values it does not need).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def warm_up(spark, sf_dir: str) -> None:
    """Query-neutral session warm-up shared by the measurement tools: a
    scan, a shuffle hash-agg, a broadcast join and an Arrow worker
    spin-up (JIT, parquet footers, codegen, Python workers) on a plan no
    registered query owns, so no query gets a dedicated warm rep."""
    import pyspark.sql.functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    (
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .join(F.broadcast(nat), F.col("l_suppkey") % 25 == F.col("n_nationkey"))
        .count()
    )
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()


def main() -> None:
    repo, sf_dir, name = sys.argv[1], sys.argv[2], sys.argv[3]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    load1 = os.getloadavg()[0]  # read BEFORE the JVM exists (r7 bench rule)
    sys.path.insert(0, repo)
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.session import get_spark

    spark = get_spark("isopair")
    qs = queries()
    warm_up(spark, sf_dir)

    def run() -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # untimed reps until the session stops getting faster
    warm = [run()]
    while len(warm) < reps and (len(warm) < 2 or warm[-1] < warm[-2]):
        warm.append(run())
    times = [run() for _ in range(reps)]
    print(
        json.dumps(
            {
                "query": name,
                "repo": repo,
                "sf_dir": sf_dir,
                "warm_reps": len(warm),
                "reps": times,
                "best": min(times),
                "median": statistics.median(times),
                "load1": round(load1, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
