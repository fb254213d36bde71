"""Dump .explain('formatted') for registered queries, one file per query.

Usage: python tools/dump_plans.py <out_dir> [sf_dir] [query... | all]
  out_dir directory the <query>.txt files are written to (created)
  sf_dir  defaults to /root/testdata/sf0.1
  query   default: the bench HEADLINE set; ``all`` = every registered query

The explain is captured from the UNEXECUTED frame (AdaptiveSparkPlan
isFinalPlan=false) — the static shape the judge checks claims against.
Session-global counters are masked (expression ids ``#123``, RDD ids
``RDD[45]``, ``plan_id=6``, and the PySpark lambda variable counter in
``lambda x_285``, renumbered in order of first appearance per plan), and
so is the Python call site Spark records for a checkpointed RDD
(``localCheckpoint at <unknown>:0`` or ``NativeMethodAccessorImpl.java:0``,
depending on what the session built first), so two dumps of the same
plan diff clean: ``diff -r a/ b/`` after dumping two checkouts is the
plan-identity check. The first line of each dump names the shuffle width
and default parallelism the plan was built at, so two dumps taken at
different widths differ there rather than in every ``hashpartitioning``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark.plans.catalog import queries  # noqa: E402
from gmall_flink_realtime4_spark.session import get_spark  # noqa: E402

_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # the creation site of an RDD: ``<op> at <file>:<line>``
    (re.compile(r"(\bat \w+) at [^\s,\]\)]+:\d+"), r"\1 at <callsite>"),
)
# PySpark names every Python lambda variable ``x_<n>`` (``y_``/``z_`` for
# the 2nd/3rd argument) from a session-global counter.
_LAMBDA_VAR = re.compile(r"\blambda ([xyz])_(\d+)\b")


def mask_ids(txt: str) -> str:
    """Replace the session-global ids an explain string carries."""
    for pat, rep in _MASKS:
        txt = pat.sub(rep, txt)
    seen: dict[str, int] = {}
    return _LAMBDA_VAR.sub(
        lambda m: f"lambda {m[1]}_L{seen.setdefault(m[2], len(seen))}", txt
    )


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    qs = queries()
    names = sys.argv[3:]
    if names == ["all"]:
        names = sorted(qs)
    elif not names:
        import bench

        names = bench.HEADLINE
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    width = (
        f"spark.sql.shuffle.partitions="
        f"{spark.conf.get('spark.sql.shuffle.partitions')}"
        f" defaultParallelism={spark.sparkContext.defaultParallelism}\n"
    )
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(width + mask_ids(txt))
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


if __name__ == "__main__":
    main()
