"""LLM-data-pipeline queries: dedup, similarity search, text analysis.

Beyond-reference extensions (BASELINE.json north star) designed for 100 TB
scale, over the driver's ``documents`` / ``embeddings`` tables. Determinism:
hashing uses md5 (identical hex in Spark and DuckDB); similarity scores are
computed decimal-exact then scaled to BIGINT, so hash-matching an oracle is
exact. The non-SQL-expressible variants (MinHash-LSH, SimHash) live in
``llm_queries_weak.py`` with rows-only checks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .. import tables as T
from .catalog import query

STOPWORDS = ("the", "a", "of", "to", "and")
_STOP_SQL = "('the', 'a', 'of', 'to', 'and')"

# embedding components are < 1 in magnitude (normalized-ish vectors). Cast
# float -> DOUBLE first (Spark's float->decimal goes through the FLOAT's
# shortest decimal repr; DuckDB uses the exact binary value — double-first
# makes both engines see the same value), then DECIMAL(9,7): products stay
# within (19,14), 64-element sums within (38,14) and the scaled integer sum
# stays under 2^53 so decimal->double is one exactly-rounded step. Exact,
# order-independent arithmetic on both engines.
VEC_DEC = "decimal(9,7)"
VEC_ACC = "decimal(38,14)"


# ---------------------------------------------------------------------------
# Exact dedup — hash-groupBy. Scale path: this is a single shuffle on the
# content hash; at 100 TB, partial aggregation map-side combines first.
# ---------------------------------------------------------------------------
@query(
    "llm_dedup_exact",
    oracle="""
SELECT md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))   AS content_hash,
       MIN(doc_id)        AS keeper_doc_id,
       COUNT(*)           AS dup_count
FROM documents
GROUP BY 1
""",
    tags=("llm-dedup",),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via hash-groupBy; keeper = min doc_id."""
    d = T.load(spark, sf_dir, "documents", spread=False)
    return d.groupBy(F.md5(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup — shingle -> inverted-index join -> pair scores.
# Scale path: the shingle join IS the LSH-free candidate generator; skewed
# (stop-)shingles are the hazard — the distinct-per-doc step bounds
# contribution, AQE skew-join handles the rest.
# ---------------------------------------------------------------------------
@query(
    "llm_dedup_ngram_jaccard",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_ct
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter_ct,
       sa.n_sh + sb.n_sh - i.inter_ct                    AS union_ct,
       (1000 * i.inter_ct) // (sa.n_sh + sb.n_sh - i.inter_ct) AS jaccard_permille
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
""",
    tags=("llm-dedup",),
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram (word-shingle) Jaccard similarity pairs.

    shingle -> explode -> self-equi-join on shingle (candidate pairs share at
    least one shingle; no cross join) -> intersection counts -> Jaccard in
    exact integer per-mille. At scale this is the classic inverted-index
    candidate join; common-shingle skew is bounded by per-doc distinct.

    Round 9 plan: each posting row carries its doc's distinct-shingle count
    (``_shingles_sized`` — computed map-side in the projection that builds
    the array), so the pair groupBy keys on (doc_a, doc_b, na, nb) and the
    Jaccard denominator is in hand the moment inter_ct is — the old plan's
    ``sizes`` groupBy plus TWO shuffle joins of the pair frame (the largest
    intermediate) against it are gone. Both self-join sides are the same
    shingle-partitioned exchange, so Catalyst's ReuseExchange materializes
    the posting list ONCE (plan-guarded: single documents scan + a
    ReusedExchange) — which also retires the old localCheckpoint (CLAUDE.md
    rule: the exploded frame is LARGER than its source; with 4 consumers
    the checkpoint paid, with exchange reuse it is a pure extra write).
    Output bit-identical: same candidate pairs, same exact-integer scores.
    """
    from .llm_scale_queries import _shingles_sized

    d = T.load(spark, sf_dir, "documents")
    # NO user repartition on the posting shuffle, deliberately: an
    # explicit repartition(width, "shingle") exempts the exchange from
    # AQE's input-byte coalescing (which under-parallelizes this
    # pair-exploding join at tiny SF) — but it ALSO disables AQE
    # skew-join splitting, and hot shingles are the real hazard at
    # scale (measured x30: 17.9 s with the pin vs ~11 s letting AQE
    # skew-split). ENSURE_REQUIREMENTS + AQE is the right trade at
    # every scale once the derivation itself is cheap (_shingles_sized
    # shape note).
    sh = _shingles_sized(d)
    # fact-fact self-join: pin shuffle_hash (the repo's r7 rule) — with a
    # real scan lineage Catalyst would BROADCAST the corpus-sized posting
    # list at small SF (the old checkpoint only hid the stats), which dies
    # at 100 TB; the hint also keeps both sides the same shingle-hash
    # exchange so ReuseExchange materializes the posting list once.
    a = sh.hint("shuffle_hash").alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter_ct"))
        .select(
            "doc_a",
            "doc_b",
            "inter_ct",
            (F.col("na") + F.col("nb") - F.col("inter_ct")).alias("union_ct"),
            F.expr("(1000 * inter_ct) div (na + nb - inter_ct)").alias(
                "jaccard_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k ANN — the exact baseline the IVF/LSH variants are
# judged against. Decimal-exact dot products; score scaled to BIGINT.
# ---------------------------------------------------------------------------
def _dot(a, b):
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: x.cast("double").cast(VEC_DEC)
            * y.cast("double").cast(VEC_DEC),
        ),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def _dec7(x):
    """The shared element quantization ladder: double -> DECIMAL(9,7)."""
    return x.cast("double").cast(VEC_DEC)


def _qdec(arr):
    """Quantize a float array ONCE into the shared decimal ladder —
    pair-scoring sites attach this per SIDE-ROW so the expensive
    double->BigDecimal casts run once per vector, not once per pair.
    The ONE copy of the quantization (pipeline/corpus modules import it):
    a second copy could silently diverge from VEC_DEC and break the
    bit-identical-to-oracle guarantee."""
    return F.transform(arr, _dec7)


def _dot_q(a, b):
    """``_dot`` over two ALREADY-``_qdec``-quantized arrays: one multiply
    + one accumulate per element (the inline form re-casts both operands
    double->BigDecimal per element, per pair). Identical decimal values —
    only the redundant re-quantization is hoisted to once per side-row."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def _dot_dbl(a, b):
    """Plain-double twin of the exact-decimal ``_dot`` — the cheap
    PRE-SCORE for prerank/prefilter passes: no BigDecimal allocation per
    element, so it is ~10-30x faster through the interpreted higher-order
    fold. Never emitted: every surviving row is re-scored with ``_dot``
    before any output or ranking decision (see ``PRESCORE_MARGIN_E9``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# |cos_e9(decimal) - cos_e9(double)| bound: DECIMAL(9,7) quantization
# perturbs each element by <= 5e-8, so a D-dim dot moves by
# <= D * (2*max|x|*5e-8) ~ 6.4e-6 for D=64, |x| <= 1 — i.e. <= ~6.4e3
# e9-units for unit-norm vectors (double fold rounding is 1e-7 e9-units,
# negligible). When the pre-score also uses DOUBLE norms (all-double
# stage 1), the norm quantization adds another <= ~1.3e-5 relative —
# total <= ~2e4 e9-units. 1e7 (0.01 cosine) is still a ~500x safety
# factor; candidates inside the margin are decimal-rescored, so the
# margin only affects COST (a slightly larger rescore set), never
# correctness.
PRESCORE_MARGIN_E9 = 10_000_000


def _cos_e9(dot, n2a, n2b):
    """e9-scaled cosine from a dot product and the two squared norms.

    nullif-guards the norm product: a zero-norm vector would otherwise
    raise DIVIDE_BY_ZERO under Spark 4's default ANSI mode, while the
    DuckDB oracle yields NULL and drops the row at the threshold filter —
    NULL here reproduces the oracle's behavior on both engines. The ONE
    copy of this expression (llm_scale_queries imports it): a divergence
    between two copies would surface as a data-dependent engine-vs-oracle
    mismatch."""
    return (
        F.floor(
            F.lit(1000000000.0)
            * dot.cast("double")
            / F.nullif(
                F.sqrt(n2a.cast("double") * n2b.cast("double")), F.lit(0.0)
            )
        ).cast("bigint")
    )


@query(
    "llm_ann_cosine_topk",
    oracle="""
WITH ix AS (
    SELECT unnest(range(1, 65)) AS i
), norms AS (
    SELECT vec_id,
           SUM(CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS n2
    FROM embeddings, ix
    GROUP BY 1
), pairs AS (
    SELECT q.vec_id AS query_vec_id, b.vec_id AS neighbor_vec_id,
           SUM(CAST(CAST(q.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(b.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS dot
    FROM embeddings q, embeddings b, ix
    WHERE q.vec_id < 8 AND b.vec_id <> q.vec_id
    GROUP BY 1, 2
), scored AS (
    SELECT p.query_vec_id, p.neighbor_vec_id,
           CAST(floor(1000000000.0 * CAST(p.dot AS DOUBLE)
                / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                AS BIGINT) AS cos_sim_e9
    FROM pairs p
    JOIN norms nq ON p.query_vec_id = nq.vec_id
    JOIN norms nb ON p.neighbor_vec_id = nb.vec_id
)
SELECT query_vec_id, neighbor_vec_id, rank, cos_sim_e9
FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_vec_id
        ORDER BY cos_sim_e9 DESC, neighbor_vec_id) AS BIGINT) AS rank
    FROM scored
)
WHERE rank <= 5
""",
    tags=("llm-similarity",),
)
def llm_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column.

    Query set = vec_id < 8; base = all vectors. Dot products fold the
    ``array<float>`` JVM-side (zip_with + aggregate, no Python) in exact
    decimal; cosine is scaled to an integer (1e9) so ranking and hashing are
    deterministic. Scale path: broadcast the query set (small side),
    brute-force scan the base — the LSH-bucketed variant reuses this scorer
    within buckets.

    ONE decimal pass, quantize-once per side: the base row quantizes and
    self-norms ONCE below the broadcast join (so the per-pair work is one
    multiply+accumulate fold), the Q-row query side rides in the
    broadcast. Round 8 reverted the r5 two-stage double-prescore here —
    isolated warm A/B measured the one-pass form >2x faster at BOTH
    sf0.1 (0.59 vs 1.30 s) and x10 (0.84 vs 1.25 s), bit-identical
    output: the prescore's extra Window pass + rescore join-backs cost
    more than the decimal arithmetic it gated (decimal:double fold ratio
    measured ~1.5x, not the 10-30x the margin design assumed). The
    prescore pattern remains where it pays — per-PAIR gating in
    llm_neardup_recall / embedding_cells (llm_scale_queries).
    """
    emb = T.load(spark, sf_dir, "embeddings")
    # query slice: 8 rows straight into the BroadcastExchange — the spread
    # Exchange between the pushed vec_id filter and the broadcast build is
    # pure overhead (guide §2.4); the corpus side keeps the spread for the
    # parallel quantize+norm map pass.
    q = T.load(spark, sf_dir, "embeddings", spread=False).filter(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("query_vec_id"),
        _qdec(F.col("embedding")).alias("qeq"),
        _dot(F.col("embedding"), F.col("embedding")).alias("qn2"),
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        _qdec(F.col("embedding")).alias("neq"),
        _dot(F.col("embedding"), F.col("embedding")).alias("nn2"),
    )
    scored = (
        F.broadcast(q)
        .join(base, F.col("neighbor_vec_id") != F.col("query_vec_id"))
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            _cos_e9(
                _dot_q(F.col("qeq"), F.col("neq")),
                F.col("qn2"),
                F.col("nn2"),
            ).alias("cos_sim_e9"),
        )
    )
    return _ranked_topk_per_query(
        scored, "query_vec_id", "neighbor_vec_id", F.col("cos_sim_e9").desc(), 5
    ).select("query_vec_id", "neighbor_vec_id", "rank", "cos_sim_e9")


# Phase-1 slices per group (two-phase exact top-k). r13 retune (r12
# verdict item 2): 8 bounds the small-scale overhead of the second window
# phase — min-of-6 interleaved A/B at sf0.1 read SALT=8 flat-to-better on
# all five consumers (cosine −7.4%, ivf −3.7%, tuning −4.3%) — while still
# removing the NQ(=8)-way ranking ceiling (8 -> 64-way). The output is
# bit-identical for ANY salt (both phases share one total order; property
# test pins it).
TOPK_SALT = 8


def _ranked_topk_per_query(
    scored: DataFrame, group: str, item: str, score: Column, k: int
) -> DataFrame:
    """Two-phase EXACT ranked top-k items per group, ordered by
    (``score``, ``item``) — r12, shared by the cosine baseline, both IVF
    rerank stages (descending cos_sim_e9 per query_vec_id) and the PQ
    ADC searches (ascending distance per qid). Adds a bigint ``rank``.

    A single Window.partitionBy(group) caps the ranking stage at
    N_QUERIES(=8)-way parallelism regardless of cluster size — one task
    sorts the whole candidate set of a query (the full corpus for the
    brute-force baseline). Phase 1 ranks within
    (group, item % TOPK_SALT) slices — 8 x TOPK_SALT-way parallel; every
    global top-k row is in its slice's top-k by the same total order —
    phase 2 assigns the FINAL rank over the <= TOPK_SALT*k survivors.
    Identical (rank, score) output to the single window (ties broken by
    item id in both phases), so the oracles are unchanged."""
    order = [score, F.col(item)]
    w1 = Window.partitionBy(group, F.expr(f"{item} % {TOPK_SALT}")).orderBy(
        *order
    )
    w2 = Window.partitionBy(group).orderBy(*order)
    return (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
        .withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Text analysis — token counting, quality scoring, language ID, fingerprint.
# All built-in JVM-side expressions (no Python UDFs in the hot path).
# ---------------------------------------------------------------------------
@query(
    "llm_text_token_count",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' '))                  AS ws_token_count,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_count,
       length(text)                                  AS char_count
FROM documents
""",
    tags=("llm-text",),
)
def llm_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count."""
    d = T.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_token_count"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias(
            "bpe_ish_count"
        ),
        F.length("text").alias("char_count"),
    )


@query(
    "llm_text_quality_score",
    oracle=f"""
WITH t AS (
    SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       len(toks)                                                AS n_tokens,
       (1000 * length(replace(text, ' ', ''))) // greatest(len(toks), 1)
                                                                AS mean_token_len_permille,
       (1000 * len(list_filter(toks, x -> x IN {_STOP_SQL})))
           // greatest(len(toks), 1)                            AS stopword_permille,
       (1000 * len(list_distinct(toks))) // greatest(len(toks), 1)
                                                                AS distinct_token_permille
FROM t
""",
    tags=("llm-text",),
)
def llm_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats + stopword and distinctness ratios.

    Ratios are exact integer per-mille (floor division) so they hash-match;
    no floating point anywhere. All expressions stay in whole-stage codegen.

    spread stays ON (default): this query is map-only — the loader spread is
    its ONLY exchange, i.e. its only parallelizer — and the per-row compute
    is heavy (three split() calls, array_distinct, an interpreted filter
    lambda), the documented kept-ON family. The r12 flip to spread=False
    violated the flip criterion (first consumer must itself be an exchange)
    and would serialize the whole text pass onto one task on single-
    row-group replicated fixtures at x30/x100.
    """
    d = T.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr(
            "(1000 * length(replace(text, ' ', ''))) div greatest(size(split(text, ' ')), 1)"
        ).alias("mean_token_len_permille"),
        F.expr(
            "(1000 * size(filter(split(text, ' '), x -> x IN ('the','a','of','to','and'))))"
            " div greatest(size(split(text, ' ')), 1)"
        ).alias("stopword_permille"),
        F.expr(
            "(1000 * size(array_distinct(split(text, ' '))))"
            " div greatest(size(split(text, ' ')), 1)"
        ).alias("distinct_token_permille"),
    )


LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "und", "das"),
}


def _hits_sql(langtoks: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{t}'" for t in langtoks)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({inlist})))"


@query(
    "llm_text_langid",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang AS labeled_lang,
           {_hits_sql(LANG_STOPWORDS['en'])} AS en_hits,
           {_hits_sql(LANG_STOPWORDS['fr'])} AS fr_hits,
           {_hits_sql(LANG_STOPWORDS['es'])} AS es_hits,
           {_hits_sql(LANG_STOPWORDS['de'])} AS de_hits
    FROM documents
)
SELECT doc_id, labeled_lang, en_hits, fr_hits, es_hits, de_hits,
       CASE WHEN en_hits + fr_hits + es_hits + de_hits = 0 THEN 'und'
            WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
            WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
            WHEN es_hits >= de_hits THEN 'es'
            ELSE 'de' END AS predicted_lang
FROM h
""",
    tags=("llm-text",),
)
def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-hit heuristic (deterministic n-gram-free).

    Ties resolve in fixed priority en > fr > es > de; zero hits -> 'und'.
    """
    return langid_predict(T.load(spark, sf_dir, "documents"))


def langid_predict(d: DataFrame) -> DataFrame:
    """Predictor core over any (doc_id, lang, text) frame — one codegen
    projection; split out so the streaming confusion-matrix partials
    (round6_ext_queries.langid_confusion_partials) score batches with the
    identical expression tree."""

    def hits(langtoks: tuple[str, ...]):
        return F.size(F.filter(F.split("text", " "), lambda x: x.isin(*langtoks)))

    h = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits(LANG_STOPWORDS["en"]).alias("en_hits"),
        hits(LANG_STOPWORDS["fr"]).alias("fr_hits"),
        hits(LANG_STOPWORDS["es"]).alias("es_hits"),
        hits(LANG_STOPWORDS["de"]).alias("de_hits"),
    )
    total = F.col("en_hits") + F.col("fr_hits") + F.col("es_hits") + F.col("de_hits")
    return h.withColumn(
        "predicted_lang",
        F.when(total == 0, "und")
        .when(
            (F.col("en_hits") >= F.col("fr_hits"))
            & (F.col("en_hits") >= F.col("es_hits"))
            & (F.col("en_hits") >= F.col("de_hits")),
            "en",
        )
        .when(
            (F.col("fr_hits") >= F.col("es_hits"))
            & (F.col("fr_hits") >= F.col("de_hits")),
            "fr",
        )
        .when(F.col("es_hits") >= F.col("de_hits"), "es")
        .otherwise("de"),
    )


@query(
    "llm_text_length_quantiles",
    oracle="""
SELECT source,
       COUNT(*)                                              AS n_docs,
       CAST(quantile_disc(len(string_split(text, ' ')), 0.25) AS BIGINT) AS p25_tokens,
       CAST(quantile_disc(len(string_split(text, ' ')), 0.50) AS BIGINT) AS p50_tokens,
       CAST(quantile_disc(len(string_split(text, ' ')), 0.90) AS BIGINT) AS p90_tokens,
       CAST(quantile_disc(length(text), 0.50) AS BIGINT)      AS p50_chars
FROM documents
GROUP BY 1
""",
    tags=("llm-text",),
)
def llm_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-distribution profile (the corpus-health dashboard
    query): discrete percentiles of token/char counts.

    percentile_disc picks an actual data value (no interpolation), so
    Spark and DuckDB agree bit-for-bit — approx_percentile would not.
    Scale path: exact percentiles need a per-group sort; at 100 TB swap in
    approx_percentile (t-digest, mergeable map-side) and accept the
    documented error bound.
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    n_tok = "size(split(text, ' '))"
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"cast(percentile_disc(0.25) WITHIN GROUP (ORDER BY {n_tok}) as bigint)").alias("p25_tokens"),
        F.expr(f"cast(percentile_disc(0.50) WITHIN GROUP (ORDER BY {n_tok}) as bigint)").alias("p50_tokens"),
        F.expr(f"cast(percentile_disc(0.90) WITHIN GROUP (ORDER BY {n_tok}) as bigint)").alias("p90_tokens"),
        F.expr("cast(percentile_disc(0.50) WITHIN GROUP (ORDER BY length(text)) as bigint)").alias("p50_chars"),
    )


@query(
    "llm_corpus_prepare",
    oracle=f"""
WITH feat AS (
    SELECT doc_id, source, text,
           len(string_split(text, ' ')) AS n_tokens,
           length(text)                 AS n_chars,
           md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS fp,
           (1000 * len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})))
               // greatest(len(string_split(text, ' ')), 1) AS stop_pm
    FROM documents
), kept AS (
    SELECT * FROM feat
    WHERE n_tokens >= 5 AND n_chars >= 30 AND stop_pm <= 500
), dedup AS (
    SELECT fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS dup_count
    FROM kept GROUP BY 1
), docs AS (
    SELECT k.* FROM kept k JOIN dedup d ON k.doc_id = d.keeper_doc_id
)
SELECT source,
       COUNT(*)          AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
       MIN(doc_id)       AS min_doc_id
FROM docs GROUP BY 1
""",
    tags=("llm-text", "llm-dedup"),
)
def llm_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation: quality filter -> exact
    dedup (keeper = min doc_id per fingerprint) -> per-source corpus stats.

    The composed shape every 100 TB data pipeline runs nightly: all three
    stages are single-pass DataFrame transforms; the only shuffles are the
    fingerprint dedup and the final per-source agg (both map-side
    combined). Quality gates: >= 5 tokens, >= 30 chars, stopword ratio
    <= 50% — the length/punct/stopword heuristics of SURVEY's text-quality
    family applied as a filter instead of a score.
    """
    d = T.load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5(F.trim(F.regexp_replace(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), "[ \\t\\n\\f\\r]+", " "))).alias("fp"),
        F.expr(
            "(1000 * size(filter(split(text, ' '), x -> x IN ('the','a','of','to','and'))))"
            " div greatest(size(split(text, ' ')), 1)"
        ).alias("stop_pm"),
    )
    kept = feat.filter(
        (F.col("n_tokens") >= 5) & (F.col("n_chars") >= 30) & (F.col("stop_pm") <= 500)
    )
    keepers = kept.groupBy("fp").agg(F.min("doc_id").alias("keeper_doc_id"))
    docs = kept.join(
        keepers, kept.doc_id == keepers.keeper_doc_id, "left_semi"
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "llm_text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS fingerprint
FROM documents
""",
    tags=("llm-text",),
)
def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized, ASCII-case-folded
    text. Case folding is deliberately ASCII-only (translate, identical on
    both engines): full Unicode lowercasing diverges between Java and
    DuckDB for special mappings ('İ' -> 'i'+combining-dot vs 'i'), which
    would fork the fingerprint universe across engines."""
    d = T.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), "[ \\t\\n\\f\\r]+", " "))
        ).alias("fingerprint"),
    )
