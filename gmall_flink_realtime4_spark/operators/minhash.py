"""Shingling and MinHash-LSH steps shared by the dedup and corpus queries.

One canonical shingle construction (``shingles``, ``shingles_sized`` and
their DuckDB twin ``SHINGLE_SQL``) and the K = B x R MinHash pipeline:
``minhash_bands`` (signatures -> band keys), ``minhash_candidates``
(bucket-colliding pairs) and ``minhash_verify`` (exact Jaccard). A fix to
tokenization or the n<3 guard lands here once; the streaming-incremental
twin runs the same steps.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


# MinHash parameters: K hash functions in B bands of R rows (K = B*R).
MINHASH_K, MINHASH_B, MINHASH_R = 12, 4, 3

SHINGLE_SQL = """
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)"""


def shingles(d: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (same construction as the
    ngram-jaccard query so the two ops share one candidate space)."""
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.greatest(F.size("t") - 3, F.lit(0))),
                        lambda i: F.concat_ws(
                            " ",
                            F.try_element_at(F.col("t"), i + 1),
                            F.try_element_at(F.col("t"), i + 2),
                            F.try_element_at(F.col("t"), i + 3),
                        ),
                    )
                )
            ).alias("shingle"),
        )
        .filter(F.size(F.split("shingle", " ")) == 3)
    )


def shingles_sized(d: DataFrame) -> DataFrame:
    """``shingles`` plus a MAP-SIDE per-doc distinct-shingle count:
    (doc_id, n_sh BIGINT, shingle).

    The exact pair-scoring queries (ngram-jaccard, containment) need each
    side's set size next to every intersection row. Computing it here —
    ``size()`` of the same distinct array the explode consumes, one narrow
    projection, zero shuffles — lets those queries GROUP the pair join by
    (doc_a, doc_b, n_a, n_b) directly and drop the whole ``sizes`` branch
    they used to carry: a per-doc groupBy shuffle of the shingle frame plus
    TWO shuffle joins of the pair frame (the largest intermediate in either
    query) against it. n_sh is functionally determined by doc_id, so the
    wider grouping key changes no groups; the 8-byte column rides a shuffle
    that already carries the ~20-byte shingle string. Same construction as
    ``shingles``, so the candidate space is bit-identical.

    SHAPE MATTERS (two measured dead ends, both row-identical):
    (1) The array must be projected as a NAMED COLUMN in its own step so
    it evaluates ONCE — putting ``size(arr_expr)`` and
    ``explode(arr_expr)`` as siblings in one projection evaluates the
    expression twice (Project and Generate are different operators, no
    cross-operator CSE): hidden at sf0.1 (~0.6 s derivation) but ~2x the
    whole query at x30. (2) The generator must be ``explode_outer``, not
    ``explode`` — InferFiltersFromGenerate skips outer generators, while
    plain explode over a named column made Catalyst infer a non-empty
    filter and predicate-pushdown substitute the WHOLE array
    construction below the loader's spread repartition onto the
    single-task parquet scan (sf0.1: 3.8 s vs 0.65 s). outer == inner
    here because the array is never empty (sequence(0, >=0) yields >= 1
    index; degenerate short shingles from tiny docs are dropped by the
    post-explode row filter, the same filter ``shingles`` uses).
    n_sh = size(arr) is exact for every SURVIVING row: docs with >= 3
    tokens generate only valid 3-token shingles (the index sequence
    stops at size-3), and shorter docs' rows are all dropped, so their
    n_sh never surfaces.
    """
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("t") - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.try_element_at(F.col("t"), i + 1),
                F.try_element_at(F.col("t"), i + 2),
                F.try_element_at(F.col("t"), i + 3),
            ),
        )
    )
    step = toks.select("doc_id", arr.alias("shs"))
    return step.select(
        "doc_id",
        F.size("shs").cast("bigint").alias("n_sh"),
        F.explode_outer("shs").alias("shingle"),
    ).filter(F.size(F.split("shingle", " ")) == 3)


def minhash_candidates(sh: DataFrame) -> DataFrame:
    """Checkpointed LSH band-collision candidate pairs
    (doc_a, doc_b, shared_bands) from a shingle frame.

    Factored out of ``llm_dedup_minhash_lsh`` (r12 optimization) so
    downstream scorers that only need the CANDIDATE PAIR SET —
    ``llm_dedup_containment_lsh`` scores containment over exactly these
    pairs — can stop at the band self-join instead of paying the full
    minhash query's exact-Jaccard verify (intersection join + two size
    joins + a second shingle derivation) just to throw the scores away.
    The verify never filters a pair (its inter join is LEFT and the size
    joins hit every candidate doc, which by construction has shingles),
    so the pair set out of the full query is bit-identical to this one.
    """
    bands = minhash_bands(sh)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        # LSH-recall-sized (tiny vs corpus); feeds the verify join AND the
        # final score join — materialize so the band self-join runs once.
        .localCheckpoint()
    )


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from a shingle frame — the
    shared construction for the batch query and the streaming-incremental
    twin (`streaming.incremental.incremental_minhash_pairs`).

    One row per doc at the signature stage (K hex minhashes). The band
    frame is typically self-joined, so without materialization the
    shingle explode + K-way min-agg would run once per join SIDE and
    once more per verify consumer — 8 documents scans in the r4 census.
    Checkpointing the signatures caps the corpus at 2 scans."""
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]
    ).localCheckpoint()
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.md5(
                            F.concat(
                                *[F.col(f"h{MINHASH_R * j + k}") for k in range(MINHASH_R)]
                            )
                        ).alias("bucket"),
                    )
                    for j in range(MINHASH_B)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs against a
    shingle frame; returns the final (doc_a, doc_b, shared_bands,
    inter_ct, jaccard_permille) columns. Shared by the batch query and
    the streaming-incremental twin.

    The verify touches only candidate docs: semi-join prune the shingle
    frame BEFORE the intersection join (same pattern as containment-LSH),
    then materialize the pruned shingles — sizes and both intersection
    sides read the pruned frame, so the corpus is never re-scanned."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, "doc_id", "left_semi").localCheckpoint()
    sizes = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb2 = sh_cand.alias("sa"), sh_cand.alias("sb")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb2,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_ct"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_bands",
            F.coalesce("inter_ct", F.lit(0)).alias("inter_ct"),
            F.expr(
                "(1000 * coalesce(inter_ct, 0))"
                " div (na + nb - coalesce(inter_ct, 0))"
            ).alias("jaccard_permille"),
        )
    )
