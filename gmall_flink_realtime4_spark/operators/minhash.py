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
band keys), ``minhash_candidates`` (bucket-colliding pairs, through the
shared ``joins.candidate_pairs``) and ``minhash_verify`` (exact Jaccard).
Each step takes the batch frame and, for the streaming-incremental twin
(`streaming.incremental.incremental_minhash_pairs`), its state: the
twin passes its batch bands and band state to ``minhash_candidates``
and its doc state plus batch to ``minhash_verify``, so a fix to
tokenization, banding, pair orientation or the score lands here once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .joins import candidate_pairs


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


def minhash_candidates(
    bands: DataFrame, old: DataFrame | None = None
) -> DataFrame:
    """Checkpointed LSH band-collision candidate pairs (doc_a, doc_b,
    shared_bands) from ``minhash_bands`` frames: pairs within ``bands``,
    plus, when the streaming twin passes its band state as ``old``, the
    pairs between ``bands`` and ``old`` (``joins.candidate_pairs``).

    Scorers that only need the CANDIDATE PAIR SET (containment-LSH, the
    edit-distance verify) stop here instead of paying for the exact
    Jaccard verify, which never drops a pair (see ``minhash_verify``).
    A doc has one bucket per band, so each shared band is one join row
    and the count needs no ``distinct``.
    """
    return (
        candidate_pairs(bands, ["band", "bucket"], old)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        # LSH-recall-sized (tiny vs corpus); feeds the candidate-doc prune
        # AND the pair join of its scorer — materialize so the band
        # self-join runs once.
        .localCheckpoint()
    )


def minhash_verify(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs; returns the
    final (doc_a, doc_b, shared_bands, inter_ct, jaccard_permille)
    columns. ``docs`` is a (doc_id, text) frame holding every candidate
    doc (the corpus, or the twin's doc state plus its batch).

    The verify touches only candidate docs: ``docs`` is semi-join pruned
    to them BEFORE shingling (a semi-join above the shingle Generate would
    not push down through it), and the pruned shingles are materialized
    for the two sides of the intersection join. The doc sizes ride along
    as ``shingles``' ``n_sh``, so there is no per-doc recount and no size
    join. The intersection join is inner: a band collision means equal
    band minhashes, so the shingle that attains them is in both docs (md5
    collisions aside) and every candidate keeps ``inter_ct >= 1``."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingles(docs.join(cand_ids, "doc_id", "left_semi")).localCheckpoint()
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "shingle"
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "shared_bands", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter_ct"))
        .select(
            "doc_a",
            "doc_b",
            "shared_bands",
            "inter_ct",
            F.expr("(1000 * inter_ct) div (na + nb - inter_ct)").alias(
                "jaccard_permille"
            ),
        )
    )
