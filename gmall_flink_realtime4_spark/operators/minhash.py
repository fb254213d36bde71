"""Word-3-gram shingling and the MinHash-LSH steps shared by the dedup,
corpus, text and sketch queries.

The word-3-gram construction (split on spaces, index ``0..size-3``, join
three tokens, drop short shingles) exists once per engine, here:

- ``trigram_array`` / ``is_trigram`` — the Spark Column builder (every
  3-gram of a token array, in position order, with multiplicity) and its
  validity predicate. Queries that score arrays per row or key the rows by
  something other than the document use these directly.
- ``shingles`` — the per-document frame builder, ``(doc_id, n_sh,
  shingle)``: distinct shingles per doc plus the doc's distinct-shingle
  count. Callers that do not need ``n_sh`` drop it and Catalyst prunes
  the size away.
- ``shingle_sql`` — the DuckDB CTE builder every oracle splices in.

Then the K = B x R MinHash pipeline: ``minhash_bands`` (signatures ->
band keys), ``minhash_candidates`` (bucket-colliding pairs) and
``minhash_verify`` (exact Jaccard). A fix to tokenization or the n<3
guard lands here once; the streaming-incremental twin runs the same
builder and steps as the batch query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


# MinHash parameters: K hash functions in B bands of R rows (K = B*R).
MINHASH_K, MINHASH_B, MINHASH_R = 12, 4, 3


def trigram_array(t: Column) -> Column:
    """Every word 3-gram of the token array ``t``, in position order and
    with multiplicity. Lambda bodies run interpreted, so the expression
    ``t`` is evaluated on every element access: pass a named column (one
    split per row), not an inline ``split``. A doc shorter than 3 tokens
    yields one short element (``sequence(0, 0)``); ``is_trigram`` rejects
    it."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - 3, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.try_element_at(t, i + 1),
            F.try_element_at(t, i + 2),
            F.try_element_at(t, i + 3),
        ),
    )


def is_trigram(s: Column) -> Column:
    """True for an element of ``trigram_array`` that really joins three
    tokens — the n<3 guard."""
    return F.size(F.split(s, " ")) == 3


def shingles(d: DataFrame) -> DataFrame:
    """Distinct word 3-gram shingles per document with the document's
    distinct-shingle count: (doc_id, n_sh BIGINT, shingle).

    The exact pair scorers (ngram-jaccard, containment) key their pair
    aggregation on (doc_a, doc_b, n_a, n_b) from ``n_sh``, so they need no
    per-doc sizes groupBy and no size joins of the pair frame. n_sh is
    functionally determined by doc_id, so the wider key changes no groups.
    Everyone else drops it; the size projection is then pruned away.

    Shape (CLAUDE.md, "Derived-array explode shape"):
    (a) the distinct array is a NAMED column in its own projection, so it
    evaluates once; (b) it is exploded with ``explode_outer`` — plain
    explode lets InferFiltersFromGenerate add a non-empty filter that
    pushdown substitutes below the loader's spread repartition. outer ==
    inner here: ``sequence(0, >=0)`` never yields an empty array;
    (c) short shingles from docs under 3 tokens go by a POST-explode row
    filter (codegen), not an array lambda; (d) ``n_sh`` is projected
    BEFORE the Generate, so the Generate carries [doc_id, n_sh], not the
    array (a size next to the generator would make every shingle row copy
    its doc's array). n_sh is exact for every surviving row: docs with
    >= 3 tokens yield only valid shingles, and all rows of shorter docs
    are dropped.
    """
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    arr = toks.select(
        "doc_id", F.array_distinct(trigram_array(F.col("t"))).alias("shs")
    )
    sized = arr.select(
        "doc_id", F.size("shs").cast("bigint").alias("n_sh"), "shs"
    )
    return sized.select(
        "doc_id", "n_sh", F.explode_outer("shs").alias("shingle")
    ).filter(is_trigram(F.col("shingle")))


def shingle_sql(
    key: str = "doc_id", distinct: bool = True, src: str = "documents"
) -> str:
    """DuckDB twin of the word-3-gram construction: the CTE chain
    ``toks, idx, sh`` ending in ``sh(<key>, shingle)`` over relation
    ``src`` (which needs ``<key>`` and ``text``). ``distinct`` keeps one
    row per (key, shingle), as ``shingles`` does; without it every
    occurrence is a row, as ``trigram_array`` gives. Docs under 3 tokens
    get an empty index range, so no short shingle is ever built. Splice
    after ``WITH``."""
    return f"""toks AS (
    SELECT {key}, string_split(text, ' ') AS t FROM {src}
), idx AS (
    SELECT {key}, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT {"DISTINCT " if distinct else ""}{key},
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)"""


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
    sh_cand = (
        sh.select("doc_id", "shingle")
        .join(cand_ids, "doc_id", "left_semi")
        .localCheckpoint()
    )
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
