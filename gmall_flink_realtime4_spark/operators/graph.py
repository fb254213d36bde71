"""Distributed connected components over an edge DataFrame.

Two interchangeable algorithms (both exact when run to their own
convergence; the registered `llm_dedup_clusters` query pins `propagate`,
whose fixpoint the DuckDB recursive-CTE oracle reproduces):

- ``propagate`` — Pregel-style min-label propagation: each super-step
  joins every node's label against its neighbors' and keeps the min.
  O(component diameter) super-steps; near-dup components are near-cliques
  (diameter 2-3), so 1-2 checkpointed super-steps in practice. A
  pathological CHAIN of pairwise near-dups needs diameter/3 sequential
  Spark jobs — that's the adversarial topology the `star` alternative
  exists for, and what `max_rounds` bounds as a production escape hatch.
- ``star`` — the alternating large-star/small-star algorithm (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14):
  large-star hangs every node's larger neighbors onto its component-min,
  small-star re-hangs the smaller ones; the alternation converges to
  per-component star graphs centered at the minimum id in
  O(log^2 n) rounds REGARDLESS of diameter. Same (node, lab) result as
  propagate run to fixpoint — `tests/test_graph.py` pins the agreement on
  both the real near-dup pair graph and an adversarial chain.

Both loops are driver-side with one scalar `collect()` per convergence
check and a `localCheckpoint` per round to cut lineage — the documented
iterative-algorithm shape (SURVEY §7): per-iteration cost is task
scheduling, not data, so iteration frames stay on few partitions sized
to the edge count (near-dup pairs are tiny relative to the corpus).
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def _fingerprint(edges: DataFrame) -> tuple:
    """Order-insensitive edge-set fingerprint (count + xxhash sum): one
    scalar agg per convergence check instead of a join-and-count."""
    r = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # DECIMAL accumulator: a long sum of 64-bit hashes overflows (and
        # ANSI mode, pinned at runtime, turns that into a task error)
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (r["n"], r["h"])


def _sym(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) ∪ {u}):
    larger neighbors re-hang onto the locally-known minimum."""
    sym = _sym(edges)
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge high->low, then (v, m) for every v in
    N(u) ∪ {u} with v != m, where m = min(N(u)): smaller neighbors and
    the node itself hang onto the minimum."""
    d = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    mins = d.groupBy("src").agg(F.min("dst").alias("m"))
    withm = d.join(mins, "src")
    lows = withm.filter(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    selfs = mins.select("src", F.col("m").alias("dst"))
    return lows.union(selfs).distinct()


def connected_components(
    edges: DataFrame,
    algorithm: str = "propagate",
    max_rounds: int | None = None,
) -> DataFrame:
    """Exact connected components of DataFrame[src, dst] (any orderable id
    type); returns DataFrame[node, lab] with lab = min id in the node's
    component, one row per node that appears in any edge.

    ``max_rounds`` (propagate only) is the PRODUCTION ESCAPE HATCH: it
    bounds the number of sequential Spark jobs on adversarial long-chain
    components at the cost of possibly non-minimal labels past the bound
    — when a topology needs it, prefer ``algorithm='star'``, which is
    exact in O(log^2 n) rounds regardless of diameter. The registered
    oracle-gated query keeps the unbounded propagate default (its DuckDB
    recursive-CTE oracle is the same fixpoint).
    """
    # symmetrize + materialize the (small) pair graph once, on few
    # partitions: undirected semantics must not depend on the caller's
    # edge orientation (a dst-only node would otherwise vanish from the
    # propagate node set). The label loop is scheduling-bound, not
    # data-bound — per-iteration cost is tasks, so keep the iteration
    # frames narrow. At 100 TB the edge set is still tiny relative to
    # the corpus (only near-dup pairs). r13: hash-distribute by src
    # BEFORE the checkpoint — the LogicalRDD keeps that partitioning, so
    # the static edge side of every propagate sweep's join is never
    # reshuffled again (the off-pair-path explicit-repartition pattern,
    # CLAUDE.md; the old coalesce(8) left distinct's (src,dst) hash
    # partitioning, useless to the per-sweep src join).
    edges = _sym(edges).distinct().repartition(8, "src").localCheckpoint()

    if algorithm == "star":
        cur = edges
        prev_fp = _fingerprint(cur)
        while True:
            cur = _small_star(_large_star(cur)).coalesce(8).localCheckpoint()
            fp = _fingerprint(cur)
            if fp == prev_fp:
                break
            prev_fp = fp
        # fixpoint is a star per component centered at its min: every
        # non-root points at the root; the root's own min neighbor is a
        # child (> root), so least(min_neighbor, self) recovers it
        stars = (
            _sym(cur)
            .groupBy("src")
            .agg(F.least(F.min("dst"), F.first("src")).alias("lab"))
            .select(F.col("src").alias("node"), "lab")
        )
        # both star passes drop degenerate edges (large-star keeps dst>src,
        # small-star keeps src!=dst), so a node whose only edge is a
        # self-loop vanishes from the fixpoint edge set — restore it from
        # the input node set (its component is itself), keeping the
        # "one row per node in any edge" contract identical to propagate
        nodes = edges.select(F.col("src").alias("node")).distinct()
        return nodes.join(stars, "node", "left").select(
            "node", F.coalesce("lab", F.col("node")).alias("lab")
        )

    if algorithm != "propagate":
        raise ValueError(f"unknown algorithm {algorithm!r}")

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )

    def propagate(lab_df):
        # r13 sweep shape (guide §2.4 — fewer exchanges per iteration):
        # new_lab(v) = min over ({lab(v)} ∪ {lab(u): u ∈ N(v)}), computed
        # as messages-union-own folded by ONE groupBy(node) — 2 exchanges
        # per sweep (labels→src for the join, union→node for the agg; the
        # checkpointed edge side is pre-partitioned by src) versus the old
        # join + groupBy(dst) + left-join-back shape's 4, with the same
        # per-node min semantics (own label rides the union, so isolated
        # nodes keep their row). String-key join: edges appears in every
        # sweep's lineage, attribute references would be ambiguous.
        msgs = (
            lab_df.select(F.col("node").alias("src"), "lab")
            .join(edges, "src")
            .select(F.col("dst").alias("node"), "lab")
        )
        return (
            msgs.unionByName(lab_df)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )

    # run to FIXPOINT by default — a fixed round cap would silently emit
    # non-minimal labels for a component whose min-label distance exceeds
    # it (a chain of pairwise near-dups). Termination is guaranteed: the
    # SUM(lab) potential strictly decreases every super-step until
    # converged, and rounds are bounded by the largest component's
    # diameter. r13: ONE sweep per convergence check (the old cadence ran
    # 3 sweeps per check, so a diameter-2 near-dup graph paid 6 sweeps —
    # 3 to converge + 3 to observe no change; per-sweep checks pay 3),
    # and the checkpoint is NON-eager so the check's sum-agg action
    # materializes it in the same job (one job per sweep, not two). The
    # per-check cost is one scalar collect over the checkpointed frame,
    # whose width AQE coalesces. max_rounds still bounds sweeps EXACTLY.
    prev_sum = labels.agg(F.sum("lab")).collect()[0][0]
    done_rounds = 0
    while max_rounds is None or done_rounds < max_rounds:
        labels = propagate(labels).localCheckpoint(eager=False)
        done_rounds += 1
        cur_sum = labels.agg(F.sum("lab")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    _log.info("connected_components(propagate): %d sweeps", done_rounds)
    return labels
