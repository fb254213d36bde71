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
depending on what the session built first). An aggregate with several
DISTINCT groups plans an ``Expand`` whose groups (``gid`` 1, 2, ...) come
in a hash order that differs between sessions; each such ``Expand`` is
rewritten with its groups sorted by their masked column names, its
``gid`` literals renumbered to match and its group columns reordered
wherever they precede ``gid``. So two dumps of the same plan diff clean:
``diff -r a/ b/`` after dumping two checkouts is the plan-identity check. The first line of each dump names the shuffle width
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

_EXPR_ID = re.compile(r"#\d+")
_MASKS = (
    (_EXPR_ID, "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # the creation site of an RDD: ``<op> at <file>:<line>``
    (re.compile(r"(\bat \w+) at [^\s,\]\)]+:\d+"), r"\1 at <callsite>"),
)
_EXPAND_ARGS = re.compile(
    r"^(\(\d+\) Expand\n(?:\S.*\n)*?Arguments: )(.*)$", re.MULTILINE
)
_GID = re.compile(r"gid#\d+")
# PySpark names every Python lambda variable ``x_<n>`` (``y_``/``z_`` for
# the 2nd/3rd argument) from a session-global counter.
_LAMBDA_VAR = re.compile(r"\blambda ([xyz])_(\d+)\b")


def _items(s: str) -> list[str]:
    """Split ``s`` at its top-level ``", "`` separators."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0 and s[i + 1 : i + 2] == " ":
            out.append(s[start:i])
            start = i + 2
    return [*out, s[start:]]


def _permute_before(txt: str, gid: str, perm: list[int]) -> str:
    """Reorder the ``len(perm)`` list items right before each ``gid``
    list item: new item ``j`` is old item ``perm[j]``."""
    out, pos = [], 0
    for m in re.finditer(rf", {re.escape(gid)}(?=[,\])])", txt):
        items, end, depth = [], m.start(), 0
        for i in range(m.start() - 1, -1, -1):
            ch = txt[i]
            if ch in ")]}":
                depth += 1
            elif ch in "([{" and depth:
                depth -= 1
            elif depth == 0 and (ch in "([{" or txt[i : i + 2] == ", "):
                items.append(txt[i + (1 if ch in "([{" else 2) : end])
                end = i
                if len(items) == len(perm) or ch in "([{":
                    break
        if len(items) < len(perm):
            continue
        items.reverse()
        out += [txt[pos : m.start() - len(", ".join(items))]]
        out += [", ".join(items[j] for j in perm)]
        pos = m.start()
    return "".join(out) + txt[pos:]


def _canonical_expands(txt: str) -> str:
    """Sort the DISTINCT groups of every ``gid`` Expand (see the module
    docstring); ``txt`` still carries its expression ids, so each
    Expand's ``gid`` and group columns are told apart from another's."""
    edits = []  # (gid, {old gid: new gid}, group column permutation)

    def fix(m: re.Match) -> str:
        rows_txt, outs_txt = _items(m[2])
        outs = _items(outs_txt[1:-1])
        g = next((i for i, o in enumerate(outs) if _GID.fullmatch(o)), None)
        if g is None:
            return m[0]
        rows = [_items(r[1:-1]) for r in _items(rows_txt[1:-1])]
        # the group columns are the slots right before gid
        slots = [k for k in range(g) if len({r[k] for r in rows}) > 1]
        groups = sorted(
            (r for r in rows if r[g] != "0"),
            key=lambda r: [
                _EXPR_ID.sub("#N", outs[k]) for k in slots if r[k] != "null"
            ],
        )
        perm = [slots.index(k) for r in groups for k in slots if r[k] != "null"]
        gids = {r[g]: str(i) for i, r in enumerate(groups, 1)}
        edits.append((outs[g], gids, perm))
        rows = [
            r[: slots[0]]
            + [r[slots[j]] for j in perm]
            + [gids.get(r[g], "0")]
            + r[g + 1 :]
            for r in [*(r for r in rows if r[g] == "0"), *groups]
        ]
        rows_new = ", ".join(f"[{', '.join(r)}]" for r in rows)
        return f"{m[1]}[{rows_new}], {outs_txt}"

    txt = _EXPAND_ARGS.sub(fix, txt)
    for gid, gids, perm in edits:
        txt = _permute_before(txt, gid, perm)
        txt = re.sub(
            rf"\b{re.escape(gid)} = (\d+)\b",
            lambda m: f"{gid} = {gids.get(m[1], m[1])}",
            txt,
        )
    return txt


def mask_ids(txt: str) -> str:
    """Replace the session-global ids an explain string carries, after
    putting each DISTINCT-group ``Expand`` in canonical order."""
    txt = _canonical_expands(txt)
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
