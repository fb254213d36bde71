"""Round-3 corpus + OLAP operators: chunk dedup, heavy hitters, tf-idf,
containment, bloom-prefilter join, pivot, analytic window suite.

Beyond-reference extensions in the same family as ``llm_queries.py`` /
``llm_pipeline_queries.py``: the remaining ops a 100 TB training-data
pipeline runs (paragraph/chunk-level dedup a la C4/RefinedWeb, corpus-wide
boilerplate n-gram mining, tf-idf term salience, asymmetric-containment
partial-dup detection) plus generic OLAP surface the warehouse lacks
(bloom-filter prefilter for fact-by-dim semi joins, PIVOT, the full
analytic-window function suite).

Determinism contract is the catalog's: md5 as the shared random oracle,
exact integer arithmetic at every boundary (scores as integer ppb/per-mille,
money summed as DECIMAL then cast DOUBLE), identical aliases both sides,
row_number keepers over total orders.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from .catalog import query
from .llm_scale_queries import _hexval_sql

# ---------------------------------------------------------------------------
# Chunk-level (paragraph) exact dedup — C4/RefinedWeb-style: the corpus is
# deduplicated at sub-document granularity, keeping the FIRST occurrence of
# every repeated span and dropping later ones.
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 10  # "paragraph" = aligned 10-token span (testdata has no \n)


@query(
    "llm_chunk_dedup",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), idx AS (
    SELECT doc_id, toks,
           unnest(range(0, (len(toks) + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS})) AS i
    FROM t
), c AS (
    SELECT doc_id, i AS chunk_idx,
           array_to_string(
               toks[(i*{CHUNK_TOKENS}+1):(i*{CHUNK_TOKENS}+{CHUNK_TOKENS})], ' ')
               AS chunk_text
    FROM idx
), r AS (
    SELECT doc_id, chunk_idx, chunk_text,
           row_number() OVER (PARTITION BY chunk_text
                              ORDER BY doc_id, chunk_idx) AS rn
    FROM c
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN rn = 1
                     THEN len(string_split(chunk_text, ' ')) ELSE 0 END)
            AS BIGINT) AS kept_tokens
FROM r GROUP BY 1
""",
    tags=("llm-text", "dedup"),
)
def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) exact dedup: split every doc into aligned
    10-token chunks, keep only the globally-first occurrence of each
    repeated chunk (C4/RefinedWeb line-dedup, adapted to newline-free
    testdata).

    Keeper is the global min(struct(doc_id, chunk_idx)) per chunk — a
    COMBINABLE aggregate (map-side partial min collapses a hot chunk to one
    row per partition), joined back on chunk_text to tag keepers; the
    deterministic first-occurrence rule both engines reproduce, without a
    row_number() window that would single-thread on hot boilerplate. Cost:
    one map-combined shuffle on chunk_text (the dedup key), one
    AQE-skew-splittable join back, one doc_id rollup. At 100 TB chunk_text
    would be replaced by its hash as the shuffle key (shipping 16-byte
    keys, not spans); semantics identical.
    """
    return chunk_dedup(T.load(spark, sf_dir, "documents"))


def chunk_dedup(d: DataFrame) -> DataFrame:
    """Chunk-dedup core over any (doc_id, text) frame — see
    ``llm_chunk_dedup`` for semantics; split out so property tests can
    drive it with generated corpora."""
    toks = F.split(F.col("text"), " ")
    n_chunks = F.expr(
        f"(size(split(text, ' ')) + {CHUNK_TOKENS - 1}) div {CHUNK_TOKENS}"
    )
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
        ),
    )
    c = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    # Keeper = global min (doc_id, chunk_idx) per chunk — computed as a
    # COMBINABLE min(struct) aggregate, NOT row_number() over a chunk_text
    # window: a hot chunk (boilerplate repeated millions of times at
    # 100 TB) would single-thread the window sort, while min(struct)
    # reduces every partition's hot-key rows to ONE row map-side. The
    # join back on chunk_text is AQE-skew-splittable (windows are not).
    keeper = c.groupBy("chunk_text").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("k")
    )
    # r10 runtime-census closure: the join-back is FACT-FACT (both sides
    # corpus-sized — occurrences vs distinct chunks), and the x10 runtime
    # census showed AQE still broadcast-promoting the raw side under the
    # repo's generous 64 MB threshold (it did NOT self-demote as the
    # sf0.001 ledger assumed). Pin shuffle_hash per the r7 fact-fact rule:
    # build side = the distinct-chunk keeper (always the smaller), AQE
    # skew-split stays available for hot boilerplate chunks, and both
    # sides hash on chunk_text so the exploded exchange is reused.
    r = c.join(keeper.hint("shuffle_hash"), "chunk_text").withColumn(
        "is_keeper",
        (F.col("doc_id") == F.col("k.doc_id"))
        & (F.col("chunk_idx") == F.col("k.chunk_idx")),
    )
    return r.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(~F.col("is_keeper"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_chunks"),
        F.sum(
            F.when(F.col("is_keeper"), F.size(F.split("chunk_text", " "))).otherwise(0)
        )
        .cast("bigint")
        .alias("kept_tokens"),
    )


# ---------------------------------------------------------------------------
# Shared 3-gram occurrence construction (NON-distinct, unlike the jaccard
# shingle helper) — mirrors llm_dedup_ngram_jaccard's proven index/guard.
# ---------------------------------------------------------------------------
_TRIGRAM_CTE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), g AS (
    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram FROM idx
)"""


def _trigram_occurrences(d: DataFrame) -> DataFrame:
    """Every 3-gram occurrence per doc (with multiplicity)."""
    return d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(F.split("text", " ")) - 3, F.lit(0))),
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at(F.split(F.col("text"), " "), i + 1),
                    F.try_element_at(F.split(F.col("text"), " "), i + 2),
                    F.try_element_at(F.split(F.col("text"), " "), i + 3),
                ),
            )
        ).alias("ngram"),
    ).filter(F.size(F.split("ngram", " ")) == 3)


# ---------------------------------------------------------------------------
# Corpus-wide n-gram heavy hitters — boilerplate detection (the "top
# repeated 3-grams" report used to find headers/footers/templates).
# ---------------------------------------------------------------------------
HH_MIN_SUPPORT = 5
HH_TOP_K = 50


@query(
    "llm_ngram_heavy_hitters",
    oracle=f"""{_TRIGRAM_CTE}, a AS (
    SELECT ngram,
           CAST(COUNT(*) AS BIGINT)               AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY 1 HAVING COUNT(*) >= {HH_MIN_SUPPORT}
), r AS (
    SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, ngram) AS rnk
    FROM a
)
SELECT CAST(rnk AS BIGINT) AS rnk, ngram, n_occurrences, n_docs
FROM r WHERE rnk <= {HH_TOP_K}
""",
    tags=("llm-text", "heavy-hitters"),
)
def llm_ngram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K most frequent 3-grams (occurrence + doc counts) —
    the boilerplate-mining report.

    Two-phase heavy hitters: a keyed count shuffle with map-side combine
    does the heavy lifting, then the >= min-support filter shrinks the set
    BEFORE the global rank, so the single-partition row_number window only
    ever sees the (tiny) surviving head — the pattern that keeps a global
    top-K safe when the distinct-n-gram space is billions at 100 TB.
    """
    d = T.load(spark, sf_dir, "documents")
    a = (
        _trigram_occurrences(d)
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= HH_MIN_SUPPORT)
    )
    rnk = F.row_number().over(
        Window.orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
    )
    return (
        a.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= HH_TOP_K)
        .select("rnk", "ngram", "n_occurrences", "n_docs")
    )


# ---------------------------------------------------------------------------
# tf-idf term salience — top terms per doc by an exact-integer tf/df score.
# ---------------------------------------------------------------------------
TFIDF_TOP_K = 3
_PPB = 1_000_000_000


@query(
    "llm_tfidf_top_terms",
    oracle=f"""
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), s AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           (tf.tf * CAST({_PPB} AS BIGINT)) // df.df AS score_ppb
    FROM tf JOIN df USING (term)
), r AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score_ppb DESC, term) AS rnk
    FROM s
)
SELECT doc_id, term, tf, df, score_ppb, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {TFIDF_TOP_K}
""",
    tags=("llm-text", "tfidf"),
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per doc by an exact-integer tf-idf surrogate
    (score = tf * 1e9 // df — monotone in tf and inversely in df; integer
    so the cross-engine hash is stable where float ln() would not be).

    Plan: explode -> (doc,term) count (one shuffle, map-side combined) ->
    term df agg (vocabulary-sized) -> df joined back with a broadcast hint
    (the head of a term vocabulary is always broadcastable after the df
    agg; a trillion-token corpus still has a df table orders of magnitude
    smaller than the fact) -> per-doc top-K via row_number over
    (score DESC, term) — partition key doc_id is max-cardinality, so the
    rank never single-threads.
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    s = tf.join(F.broadcast(df), "term").withColumn(
        "score_ppb", F.expr(f"(tf * CAST({_PPB} AS BIGINT)) div df")
    )
    rnk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score_ppb").desc(), "term")
    )
    return (
        s.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score_ppb", "rnk")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup — C(A->B) = |A∩B| / |A| over 3-gram sets.
# Catches partial duplication (doc A quoted inside doc B) that symmetric
# Jaccard misses when |B| >> |A|.
# ---------------------------------------------------------------------------
CONTAIN_PM_MIN = 800  # containment >= 0.8 (per-mille, exact integer)


@query(
    "llm_dedup_containment",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), scored AS (
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b,
           (1000 * i.n_common) // sa.n_sh AS contain_a_pm,
           (1000 * i.n_common) // sb.n_sh AS contain_b_pm
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT * FROM scored
WHERE contain_a_pm >= {CONTAIN_PM_MIN} OR contain_b_pm >= {CONTAIN_PM_MIN}
""",
    tags=("llm-text", "dedup"),
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: pairs where >= 80% of EITHER doc's
    distinct 3-grams appear in the other — the partial-duplication case
    (quotation, header reuse, doc-inside-doc) symmetric Jaccard misses
    when the containing doc is much larger.

    Same inverted-index candidate join as ``llm_dedup_ngram_jaccard`` (no
    cross join; pairs must share a shingle), so the known 100 TB posture
    applies: exact baseline; the LSH generator is the scale path. Scores
    are integer per-mille, exact on both engines.

    Round 9 plan (the jaccard rewrite, same reasoning): every posting row
    carries its doc's distinct-shingle count map-side (``_shingles_sized``),
    the pair groupBy keys on (doc_a, doc_b, n_sh_a, n_sh_b), and the old
    ``sizes`` groupBy + two shuffle joins of the pair frame against it are
    gone. The self-join's two sides share one shingle-partitioned exchange
    (ReuseExchange, plan-guarded), retiring the localCheckpoint of the
    exploded frame. Output bit-identical.
    """
    d = T.load(spark, sf_dir, "documents")
    from .llm_scale_queries import _shingles_sized

    # no user repartition on the posting shuffle — it would disable AQE
    # skew-join splitting on hot shingles (see the jaccard twin's comment)
    sh = _shingles_sized(d)
    # fact-fact self-join: shuffle_hash pin, same reasoning as the jaccard
    # twin (Catalyst would broadcast the corpus-sized posting list at small
    # SF once the checkpoint no longer hides the scan stats).
    a = sh.hint("shuffle_hash").alias("a")
    b = sh.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_sh_a"),
            F.col("b.n_sh").alias("n_sh_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .withColumn("contain_a_pm", F.expr("(1000 * n_common) div n_sh_a"))
        .withColumn("contain_b_pm", F.expr("(1000 * n_common) div n_sh_b"))
    )
    return scored.filter(
        (F.col("contain_a_pm") >= CONTAIN_PM_MIN)
        | (F.col("contain_b_pm") >= CONTAIN_PM_MIN)
    ).select(
        "doc_a", "doc_b", "n_common", "n_sh_a", "n_sh_b",
        "contain_a_pm", "contain_b_pm",
    )


# ---------------------------------------------------------------------------
# Bloom-filter prefilter semi join — filter a huge fact by a small dim
# predicate WITHOUT shuffling the fact: build a bloom bitset over the
# qualifying dim keys, broadcast it, drop non-matching fact rows map-side.
# ---------------------------------------------------------------------------
BLOOM_M = 4096  # bits
BLOOM_K = 3  # hash functions
_BLOOM_SEG = "BUILDING"


def _bloom_hx(i: int, key: str, strtype: str = "VARCHAR") -> str:
    """md5 of hash-family member i over a key expr (strtype: DuckDB
    spells the cast VARCHAR, Spark SQL spells it STRING)."""
    return "md5('" + str(i) + ":' || CAST(" + key + " AS " + strtype + "))"


def _bloom_pos(hx_col: str, fn: str) -> str:
    """Bit position from a precomputed md5 hex column."""
    return "(" + _hexval_sql(hx_col, fn) + " % " + str(BLOOM_M) + ")"


_ORACLE_KEY_POS = " UNION ALL ".join(
    "SELECT " + _bloom_pos("hx", "strpos") + " AS pos FROM (SELECT "
    + _bloom_hx(i, "c_custkey") + " AS hx FROM keys)"
    for i in range(BLOOM_K)
)
_ORACLE_ORDER_HX = ", ".join(
    _bloom_hx(i, "o_custkey") + " AS hx" + str(i) for i in range(BLOOM_K)
)
_ORACLE_ORDER_POS = ", ".join(
    _bloom_pos("hx" + str(i), "strpos") + " AS p" + str(i) for i in range(BLOOM_K)
)
_ORACLE_CAND = " AND ".join(
    "p" + str(i) + " IN (SELECT pos FROM pos)" for i in range(BLOOM_K)
)


@query(
    "f_bloom_prefilter_semi_join",
    oracle=f"""
WITH keys AS (
    SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'
), pos AS (
    SELECT DISTINCT pos FROM ({_ORACLE_KEY_POS})
), oh AS (
    SELECT o_orderkey, o_custkey, {_ORACLE_ORDER_HX} FROM orders
), op AS (
    SELECT o_orderkey, o_custkey, {_ORACLE_ORDER_POS} FROM oh
), f AS (
    SELECT op.*,
           CASE WHEN {_ORACLE_CAND} THEN 1 ELSE 0 END AS is_cand,
           CASE WHEN o_custkey IN (SELECT c_custkey FROM keys)
                THEN 1 ELSE 0 END AS is_true
    FROM op
)
SELECT CAST(COUNT(*) AS BIGINT)      AS n_orders,
       CAST(SUM(is_cand) AS BIGINT)  AS n_candidates,
       CAST(SUM(is_true) AS BIGINT)  AS n_true_matches,
       CAST(SUM(CASE WHEN is_cand = 1 AND is_true = 0 THEN 1 ELSE 0 END)
            AS BIGINT)               AS n_false_positives,
       CAST(CASE WHEN SUM(is_cand) = 0 THEN 0
                 ELSE (1000 * SUM(CASE WHEN is_cand = 1 AND is_true = 0
                                       THEN 1 ELSE 0 END)) // SUM(is_cand)
            END AS BIGINT) AS fp_per_mille
FROM f
""",
    tags=("join", "bloom"),
)
def f_bloom_prefilter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for a fact-by-dim semi join, with the filter
    built and applied INSIDE the engines (m=4096 bits, k=3 md5 hashes) so
    both sides compute identical false positives.

    The 100 TB pattern this demonstrates: qualifying dim keys -> k hashed
    bit positions -> tiny distinct set, broadcast; the fact table is then
    filtered map-side (k broadcast-hash membership probes, zero fact
    shuffle) before any expensive downstream join. Bloom has no false
    negatives by construction; the query reports the measured FP rate.
    The summary agg is a single global reduce of four counters.
    """
    cust = (
        T.load(spark, sf_dir, "customer", spread=False)
        .filter(F.col("c_mktsegment") == _BLOOM_SEG)
        .select("c_custkey")
    )
    pos_exprs = [
        F.expr(_bloom_pos(_bloom_hx(i, "c_custkey", "STRING"), "instr"))
        for i in range(BLOOM_K)
    ]
    pos = (
        cust.select(F.explode(F.array(*pos_exprs)).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    keyset = cust.distinct().withColumn("is_true_m", F.lit(1))
    o = T.load(spark, sf_dir, "orders", spread=False).select(
        "o_orderkey",
        "o_custkey",
        *[
            F.expr(
                _bloom_pos(_bloom_hx(i, "o_custkey", "STRING"), "instr")
            ).alias("p" + str(i))
            for i in range(BLOOM_K)
        ],
    )
    f = o
    for i in range(BLOOM_K):
        f = f.join(
            F.broadcast(
                pos.select(
                    F.col("pos").alias("p" + str(i)), F.col("hit").alias("h" + str(i))
                )
            ),
            "p" + str(i),
            "left",
        )
    f = f.join(
        F.broadcast(keyset.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "left",
    ).select(
        F.when(
            sum(F.col("h" + str(i)).isNotNull().cast("int") for i in range(BLOOM_K))
            == BLOOM_K,
            1,
        )
        .otherwise(0)
        .alias("is_cand"),
        F.when(F.col("is_true_m").isNotNull(), 1).otherwise(0).alias("is_true"),
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("is_cand").cast("bigint").alias("n_candidates"),
        F.sum("is_true").cast("bigint").alias("n_true_matches"),
        F.sum(
            F.when((F.col("is_cand") == 1) & (F.col("is_true") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_positives"),
    ).select(
        "n_orders",
        "n_candidates",
        "n_true_matches",
        "n_false_positives",
        # zero-candidate guard mirrored in the oracle's CASE WHEN: DuckDB
        # `//` raises on division by zero while Spark `div` returns NULL —
        # guard both sides identically so failure modes can't diverge.
        F.when(F.col("n_candidates") == 0, F.lit(0))
        .otherwise(F.expr("(1000 * n_false_positives) div n_candidates"))
        .cast("bigint")
        .alias("fp_per_mille"),
    )


# ---------------------------------------------------------------------------
# PIVOT — wide per-day event-type matrix (explicit value list, one pass).
# ---------------------------------------------------------------------------
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "f_pivot_event_day",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       """
    + ",\n       ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS {t}_ct,\n"
        f"       CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' "
        f"THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS {t}_val"
        for t in _EVENT_TYPES
    )
    + """
FROM events GROUP BY 1
""",
    tags=("pivot",),
)
def f_pivot_event_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-day wide matrix of event-type counts + value sums.

    Explicit pivot value list (no extra distinct-discovery pass — at 100 TB
    an implicit pivot would scan the fact twice); Spark compiles this to a
    single aggregation with conditional measures, one shuffle on day.
    Values summed as DECIMAL then cast DOUBLE (exact, order-independent);
    absent (day, type) cells are coalesced to 0 to match the oracle's
    conditional-aggregation semantics.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    p = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("val"),
        )
    )
    return p.select(
        "day",
        *[
            c
            for t in _EVENT_TYPES
            for c in (
                F.coalesce(F.col(f"{t}_ct"), F.lit(0))
                .cast("bigint")
                .alias(f"{t}_ct"),
                F.coalesce(F.col(f"{t}_val"), F.lit(0.0)).alias(f"{t}_val"),
            )
        ],
    )


# ---------------------------------------------------------------------------
# Analytic window-function suite — rank/lag/lead/ntile/running sum per
# customer order history (the OVER-clause surface in one query).
# ---------------------------------------------------------------------------
@query(
    "f_window_suite_orders",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w AS BIGINT)  AS rn,
       CAST(ntile(4) OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice, o_orderkey) AS BIGINT)
           AS price_quartile,
       CAST(COALESCE(lag(o_orderkey) OVER w, -1) AS BIGINT)  AS prev_orderkey,
       CAST(COALESCE(lead(o_orderkey) OVER w, -1) AS BIGINT) AS next_orderkey,
       CAST(COALESCE((epoch_ms(o_orderdate)
                      - epoch_ms(lag(o_orderdate) OVER w)) // 86400000, -1)
            AS BIGINT) AS gap_days,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window-analytic",),
)
def f_window_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic OVER-window surface in one pass: row_number, ntile,
    lag/lead, event-time gap, and a running DECIMAL sum per customer.

    One shuffle on o_custkey serves every window (same partition key;
    Spark reuses the exchange across the sort-based window operators).
    Orders within a frame are totally ordered by (o_orderdate, o_orderkey)
    so every function is deterministic; the running sum is DECIMAL inside,
    DOUBLE at the boundary.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ms = F.expr("unix_millis(cast(o_orderdate as timestamp))")
    gap = F.floor((ms - F.lag(ms).over(w)) / F.lit(86400000)).cast("bigint")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.ntile(4).over(wp).cast("bigint").alias("price_quartile"),
        F.coalesce(F.lag("o_orderkey").over(w), F.lit(-1))
        .cast("bigint")
        .alias("prev_orderkey"),
        F.coalesce(F.lead("o_orderkey").over(w), F.lit(-1))
        .cast("bigint")
        .alias("next_orderkey"),
        F.coalesce(gap, F.lit(-1)).cast("bigint").alias("gap_days"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(wrun)
        .cast("double")
        .alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# CUBE — cross-hierarchy subtotals over (event_type, day). Complements the
# existing ROLLUP (llm_corpus_rollup): CUBE also emits the per-day-all-types
# marginals a rollup skips.
# ---------------------------------------------------------------------------
from .llm_scale_queries import _KMV_M  # noqa: E402  (shared random-oracle modulus)


@query(
    "dws_cube_event_stats",
    oracle="""
WITH e AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events
)
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(day, '<all>')        AS day,
       CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid,
       COUNT(*)                      AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
FROM e
GROUP BY CUBE (event_type, day)
""",
    tags=("cube",),
)
def dws_cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type, day): all four grouping combinations — detail,
    per-type, per-day, grand total — in ONE aggregation pass.

    Spark lowers cube to Expand (4 rows per input) before a single shuffle
    with map-side partial aggregation, so the subtotal matrix costs one
    pass over the fact, not four queries. GROUPING() disambiguates
    cube-NULL from data-NULL (coalesced to '<all>' for hash stability).
    """
    e = T.load(spark, sf_dir, "events", spread=False).select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    cubed = e.cube("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("val_sum"),
        (F.grouping("event_type") * 2 + F.grouping("day"))
        .cast("bigint")
        .alias("gid"),
    )
    return cubed.select(
        F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
        F.coalesce("day", F.lit("<all>")).alias("day"),
        "gid",
        "n_events",
        "val_sum",
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — the reproducible 90/5/5 assignment a
# training recipe needs (pure function of doc_id: stable across engines,
# retries, and repartitioning).
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PM = 900  # <900 -> train
SPLIT_VAL_PM = 950  # [900,950) -> val; rest -> test


@query(
    "llm_split_train_val_test",
    oracle=f"""
WITH h AS (
    SELECT lang, text,
           {_hexval_sql("md5(CAST(doc_id AS VARCHAR) || ':split')", "strpos")} AS u
    FROM documents
), s AS (
    SELECT lang, text,
           CASE WHEN u * 1000 < {SPLIT_TRAIN_PM} * {_KMV_M} THEN 'train'
                WHEN u * 1000 < {SPLIT_VAL_PM} * {_KMV_M} THEN 'val'
                ELSE 'test' END AS split
    FROM h
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM s GROUP BY 1, 2
""",
    tags=("llm-text", "sampling"),
)
def llm_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split with per-(split, lang)
    doc/token accounting.

    Assignment = pure integer compare on the first 12 hex chars of
    md5(doc_id || ':split') — no RNG state, so membership is reproducible
    across engines/retries/partitioning AND independent of the sampling
    hash used by ``llm_sample_stratified`` (different salt => independent
    uniforms). Map-only assignment + one small agg shuffle.
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    h = d.select(
        "lang",
        "text",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))).alias("hx"),
    ).withColumn("u", F.expr(_hexval_sql("hx", "instr")))
    split = (
        F.when(F.col("u") * 1000 < SPLIT_TRAIN_PM * F.lit(_KMV_M), "train")
        .when(F.col("u") * 1000 < SPLIT_VAL_PM * F.lit(_KMV_M), "val")
        .otherwise("test")
    )
    return (
        h.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Type-token ratio — per-source lexical-diversity profile (low TTR flags
# template/boilerplate-heavy sources worth down-weighting in the mix).
# ---------------------------------------------------------------------------
@query(
    "llm_type_token_ratio",
    oracle="""
WITH t AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)              AS n_tokens,
       CAST(COUNT(DISTINCT term) AS BIGINT)  AS n_types,
       CAST((1000 * COUNT(DISTINCT term)) // COUNT(*) AS BIGINT) AS ttr_pm
FROM t GROUP BY 1
""",
    tags=("llm-text",),
)
def llm_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio (distinct terms / total terms, integer
    per-mille) — the lexical-diversity screen for boilerplate-heavy
    sources.

    One explode + one agg shuffle on source; countDistinct(term) expands
    the aggregate input 2x (Spark's Expand) — at 100 TB a two-phase
    distinct (distinct (source, term) first, then count per source)
    replaces it if source cardinality is low enough to skew.
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("term").cast("bigint").alias("n_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.expr("(1000 * n_types) div n_tokens").cast("bigint").alias("ttr_pm"),
        )
    )


# ---------------------------------------------------------------------------
# Containment over LSH candidates — the 100 TB scale path for partial-dup
# detection: the exact inverted-index pair join (llm_dedup_containment)
# never runs; containment is scored ONLY for MinHash-LSH candidate pairs,
# and the corpus is pruned to candidate docs before shingling.
# ---------------------------------------------------------------------------
def _containment_lsh_oracle() -> str:
    from .catalog import REGISTRY

    minhash = REGISTRY["llm_dedup_minhash_lsh"].oracle
    return f"""
WITH cand AS (
    SELECT doc_a, doc_b FROM ({minhash})
), cd AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM cand
        UNION ALL SELECT doc_b AS doc_id FROM cand
    )
), toks AS (
    SELECT d.doc_id, string_split(d.text, ' ') AS t
    FROM documents d JOIN cd ON d.doc_id = cd.doc_id
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), inter AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       COALESCE(i.n_common, 0) AS n_common,
       sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b,
       (1000 * COALESCE(i.n_common, 0)) // sa.n_sh AS contain_a_pm,
       (1000 * COALESCE(i.n_common, 0)) // sb.n_sh AS contain_b_pm,
       CAST((1000 * COALESCE(i.n_common, 0)) // sa.n_sh >= {CONTAIN_PM_MIN}
         OR (1000 * COALESCE(i.n_common, 0)) // sb.n_sh >= {CONTAIN_PM_MIN}
            AS INT) AS is_partial_dup
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
"""


@query(
    "llm_dedup_containment_lsh",
    oracle=_containment_lsh_oracle(),
    tags=("llm-text", "dedup"),
)
def llm_dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scored ONLY over the MinHash-LSH candidate
    pairs — the scale path that replaces ``llm_dedup_containment``'s exact
    inverted-index join at 100 TB.

    Scale shape: (1) the candidate frame is LSH output (small — broadcast
    everywhere it joins); (2) the corpus is SEMI-JOIN PRUNED to candidate
    docs before any shingling, so shingle volume tracks candidates, not
    corpus; (3) the intersection join runs per candidate pair, never the
    posting-list cross space. Same integer per-mille scores as the exact
    operator, so the two are directly comparable (the recall gauge
    pattern of ``llm_neardup_recall``).
    """
    return containment_lsh(spark, sf_dir, persist=True)


def containment_lsh(
    spark: SparkSession, sf_dir: str, persist: bool = True
) -> DataFrame:
    """Containment-over-LSH core. ``persist`` controls only the
    PRUNED-SHINGLE checkpoint below: ``persist=True`` (production) caps the
    query at one documents scan; ``persist=False`` leaves the shingle
    lineage visible so plan tests can assert the semi-join prune that
    checkpointing hides from explain(). The candidate-PAIR frame is always
    lineage-cut regardless — ``minhash_candidates`` checkpoints it
    internally (r12)."""
    from .llm_scale_queries import _shingles, minhash_candidates

    def _persist(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if persist else df

    # The candidate frame fans out to THREE consumers (semi-join prune,
    # intersection join, final score join). Without persistence each
    # consumer re-derives the whole 16-Exchange minhash pipeline — at
    # 100 TB that is several full corpus re-scans (r03 plan census showed
    # 92 Exchanges / 44 scans for this one query). The frame is tiny
    # (candidate pairs only) and ``minhash_candidates`` already
    # checkpoints it: lineage is cut, every consumer reads the
    # materialized blocks. r12 optimization: stop at the BAND SELF-JOIN —
    # the full minhash query's exact-Jaccard verify (intersection join,
    # two size joins, a second shingle derivation) never filters a pair,
    # so its doc_a/doc_b set is bit-identical to the candidate set and
    # computing the scores only to drop them here was pure waste
    # (measured sf0.1: the verify phase was ~40% of this query's wall).
    cand = minhash_candidates(
        _shingles(T.load(spark, sf_dir, "documents"))
    ).select("doc_a", "doc_b")
    cd = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = T.load(spark, sf_dir, "documents").join(F.broadcast(cd), "doc_id", "left_semi")
    sh = _shingles(d)
    # the shingle frame also fans out (sizes + both sides of the
    # intersection join); it is candidate-pruned — proportional to the
    # LSH candidate set, not the corpus — so materializing it caps the
    # query at ONE documents scan instead of one per consumer
    sh = _persist(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        F.broadcast(cand)
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .alias("l")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shb")).alias("r"),
            (F.col("l.doc_b") == F.col("r.doc_b")) & (F.col("l.shingle") == F.col("r.shb")),
        )
        .groupBy(F.col("l.doc_a").alias("doc_a"), F.col("l.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    scored = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)).cast("bigint"))
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b"))
            ),
            "doc_b",
        )
        .withColumn("contain_a_pm", F.expr("(1000 * n_common) div n_sh_a"))
        .withColumn("contain_b_pm", F.expr("(1000 * n_common) div n_sh_b"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_sh_a",
        "n_sh_b",
        "contain_a_pm",
        "contain_b_pm",
        (
            (F.col("contain_a_pm") >= CONTAIN_PM_MIN)
            | (F.col("contain_b_pm") >= CONTAIN_PM_MIN)
        )
        .cast("int")
        .alias("is_partial_dup"),
    )


# ---------------------------------------------------------------------------
# Grouped top-K — "top N per group" (heaviest users per event type): the
# generic grouped-rank OLAP pattern, partition-parallel by construction.
# ---------------------------------------------------------------------------
GROUP_TOP_K = 3


@query(
    "f_top_users_per_event_type",
    oracle=f"""
WITH a AS (
    SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
    FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
), r AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY n_events DESC, user_id) AS rnk
    FROM a
)
SELECT event_type, user_id, n_events, val_sum, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {GROUP_TOP_K}
""",
    tags=("window-analytic", "heavy-hitters"),
)
def f_top_users_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 heaviest users per event type — grouped top-K via a keyed
    count then a per-group rank window.

    The agg shrinks events to (type, user) rows BEFORE the rank, and the
    window partitions on event_type, so no single-partition global sort
    ever happens; ties break on user_id for cross-engine determinism.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(F.col("user_id").isNotNull())
    a = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("val_sum"),
    )
    # Two-phase top-K: event_type has tiny cardinality, so a single rank
    # window partitioned on it would sort EVERY distinct user of a type in
    # one task. Phase 1 ranks within (type, salt-of-user) — 32-way
    # parallel, each partition sees ~1/32 of the users; the global top-K
    # is necessarily inside the union of per-salt top-Ks. Phase 2 ranks
    # the surviving 32*K rows per type — constant-size input at any scale.
    salted = a.withColumn("salt", F.pmod(F.xxhash64("user_id"), F.lit(32)))
    w_local = Window.partitionBy("event_type", "salt").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    cand = (
        salted.withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= GROUP_TOP_K)
        .drop("lr", "salt")
    )
    rnk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.col("n_events").desc(), "user_id")
    )
    return (
        cand.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= GROUP_TOP_K)
        .select("event_type", "user_id", "n_events", "val_sum", "rnk")
    )


# ---------------------------------------------------------------------------
# Median/MAD robust outlier screen — the DQ op that survives skewed value
# distributions where mean/stddev z-scores break down.
# ---------------------------------------------------------------------------
MAD_K = 3  # |value - median| > K * MAD -> outlier


@query(
    "dq_outlier_mad_events",
    oracle=f"""
WITH med AS (
    SELECT event_type,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
    FROM events GROUP BY 1
), dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
    SELECT event_type,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
    FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ANY_VALUE(d.med) AS DOUBLE) AS median_value,
       CAST(ANY_VALUE(m.mad) AS DOUBLE) AS mad_value,
       CAST(SUM(CASE WHEN d.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST((1000 * SUM(CASE WHEN d.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS outlier_pm
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY 1
""",
    tags=("dq",),
)
def dq_outlier_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen: |value - median| > 3 x MAD.

    Median and MAD via percentile_disc (actual data values — both engines
    agree bit-for-bit; the deviation compare is a pure IEEE expression on
    stored doubles, so the flag is deterministic). Exact two-pass shape:
    per-type median agg -> broadcast join back -> per-type MAD agg ->
    broadcast join -> one counting agg. The per-type frames are
    group-cardinality (tiny) — always broadcast; at 100 TB the exact
    percentile sorts swap for approx_percentile with a documented bound,
    same topology.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    med = (
        e.groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
                "med"
            )
        )
        # group-cardinality frame with two consumers (the dev derivation
        # appears under both mad and the final agg) — checkpoint so the
        # median pass runs once; with the mad checkpoint below, total
        # events scans drop 4 -> 3 (median, MAD, final), the honest
        # minimum without materializing the events-sized dev frame
        .localCheckpoint()
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = (
        dev.groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias(
                "mad"
            )
        )
        .localCheckpoint()  # same: tiny frame, stops dev re-derivation
    )
    j = dev.join(F.broadcast(mad), "event_type")
    is_out = F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.first("med").alias("median_value"),
            F.first("mad").alias("mad_value"),
            F.sum(is_out).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            "median_value",
            "mad_value",
            "n_outliers",
            F.expr("(1000 * n_outliers) div n_events")
            .cast("bigint")
            .alias("outlier_pm"),
        )
    )


# ---------------------------------------------------------------------------
# Length-decile curriculum binning — equal-frequency buckets WITHOUT a
# global ntile sort: decile boundaries from one tiny agg, assignment
# map-side. (ntile(10) OVER () would single-partition the whole corpus.)
# ---------------------------------------------------------------------------
_DECILES = [i / 10 for i in range(1, 10)]


def _decile_bounds_sql() -> str:
    return ", ".join(
        f"percentile_disc({q}) WITHIN GROUP (ORDER BY n_tokens) AS b{i}"
        for i, q in enumerate(_DECILES, start=1)
    )


_BUCKET_SQL = "1 + " + " + ".join(
    f"(CASE WHEN n_tokens > b{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
)


@query(
    "llm_length_decile_curriculum",
    oracle=f"""
WITH f AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), b AS (
    SELECT {_decile_bounds_sql()} FROM f
), assigned AS (
    SELECT f.doc_id, f.n_tokens, CAST({_BUCKET_SQL} AS BIGINT) AS decile
    FROM f CROSS JOIN b
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT)      AS n_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM assigned GROUP BY 1
""",
    tags=("llm-text", "sampling"),
)
def llm_length_decile_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency length deciles for curriculum scheduling — the
    scalable alternative to ``ntile(10) OVER ()`` (which would move the
    whole corpus through ONE partition).

    Shape: one global agg computes the 9 decile boundaries (9 values),
    broadcast-cross-joined back; bucket assignment is a map-side
    comparison ladder; the final rollup is a 10-group agg. Boundaries are
    percentile_disc data values and ties break by `>` on both engines, so
    membership is deterministic. Same topology at any corpus size.
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    f = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    b = f.agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY n_tokens)"
            ).alias(f"b{i}")
            for i, q in enumerate(_DECILES, start=1)
        ]
    )
    assigned = f.crossJoin(F.broadcast(b)).withColumn(
        "decile", F.expr(_BUCKET_SQL).cast("bigint")
    )
    return assigned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# FULL OUTER reconciliation — the warehouse DQ report: orders vs their
# lineitem rollup, categorized by match status.
# ---------------------------------------------------------------------------
@query(
    "dq_reconcile_orders_lineitem",
    oracle="""
WITH lo AS (
    SELECT l_orderkey AS okey,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS li_amount,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY 1
), o AS (
    SELECT o_orderkey AS okey, CAST(o_totalprice AS DECIMAL(18,2)) AS o_amount
    FROM orders
), j AS (
    SELECT COALESCE(o.okey, lo.okey) AS okey, o.o_amount, lo.li_amount,
           CASE WHEN o.okey IS NULL THEN 'lineitem_only'
                WHEN lo.okey IS NULL THEN 'orders_only'
                ELSE 'both' END AS status
    FROM o FULL OUTER JOIN lo ON o.okey = lo.okey
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(o_amount), 0) AS DOUBLE)  AS orders_amount,
       CAST(COALESCE(SUM(li_amount), 0) AS DOUBLE) AS lineitem_amount,
       CAST(COALESCE(SUM(CASE WHEN status = 'both'
                              THEN abs(o_amount - li_amount) END), 0)
            AS DOUBLE) AS matched_abs_diff
FROM j GROUP BY 1
""",
    tags=("dq", "join"),
)
def dq_reconcile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of orders against their lineitem rollup —
    the missing-rows / amount-drift DQ report (exercises the full-outer
    join surface; every other join type is covered elsewhere).

    One lineitem agg shuffle + one full-outer shuffle join on the order
    key (full outer can never broadcast), then a 3-group rollup. Amounts
    are DECIMAL inside every sum, DOUBLE at the boundary.
    """
    li = T.load(spark, sf_dir, "lineitem", spread=False)
    o = T.load(spark, sf_dir, "orders", spread=False)
    lo = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("li_amount"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    oo = o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_amount"),
        F.lit(1).alias("o_present"),
    )
    # status derives from SIDE PRESENCE markers (lit(1) carried through the
    # full outer join), mirroring the oracle's `o.okey IS NULL` logic — NOT
    # from amount nullity, which would mislabel a legitimately-NULL
    # o_totalprice as 'lineitem_only'.
    j = oo.join(lo, "okey", "full_outer").withColumn(
        "status",
        F.when(F.col("o_present").isNull(), "lineitem_only")
        .when(F.col("n_lines").isNull(), "orders_only")
        .otherwise("both"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.coalesce(F.sum("o_amount"), zero).cast("double").alias("orders_amount"),
        F.coalesce(F.sum("li_amount"), zero).cast("double").alias("lineitem_amount"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("status") == "both",
                    F.abs(F.col("o_amount") - F.col("li_amount")),
                )
            ),
            zero,
        )
        .cast("double")
        .alias("matched_abs_diff"),
    )


# ---------------------------------------------------------------------------
# Set operations — INTERSECT / EXCEPT / UNION over per-source fingerprint
# sets (the cross-source overlap report; SURVEY §2.7 marked set ops n/a in
# the reference — provided here for engine completeness).
# ---------------------------------------------------------------------------
_SETOP_SRC_A = "src0"
_SETOP_SRC_B = "src1"


@query(
    "f_set_ops_source_overlap",
    oracle=f"""
WITH a AS (
    SELECT DISTINCT md5(text) AS fp FROM documents WHERE source = '{_SETOP_SRC_A}'
), b AS (
    SELECT DISTINCT md5(text) AS fp FROM documents WHERE source = '{_SETOP_SRC_B}'
)
SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT fp FROM a INTERSECT SELECT fp FROM b)
UNION ALL
SELECT 'a_except_b', CAST(COUNT(*) AS BIGINT)
FROM (SELECT fp FROM a EXCEPT SELECT fp FROM b)
UNION ALL
SELECT 'b_except_a', CAST(COUNT(*) AS BIGINT)
FROM (SELECT fp FROM b EXCEPT SELECT fp FROM a)
UNION ALL
SELECT 'union', CAST(COUNT(*) AS BIGINT)
FROM (SELECT fp FROM a UNION SELECT fp FROM b)
""",
    tags=("set-ops",),
)
def f_set_ops_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (both directions) / UNION DISTINCT over the
    content-fingerprint sets of two sources — the cross-source duplication
    report, and the engine's set-operation surface in one query.

    Each set op is a distinct-aggregate shuffle on the fingerprint (Spark
    plans intersect/except as aggregated joins — hash-partitioned, never
    nested-loop); the four single-row counts union into one frame. Each
    input set feeds all four ops, so both are localCheckpoint'ed — without
    that the source filter + distinct re-derives per consumer (8 documents
    scans / 20 Exchanges in the r4 census; now 2 scans).
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    a = (
        d.filter(F.col("source") == _SETOP_SRC_A)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .localCheckpoint()
    )
    b = (
        d.filter(F.col("source") == _SETOP_SRC_B)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .localCheckpoint()
    )

    def labeled(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        labeled(a.intersect(b), "intersect")
        .unionByName(labeled(a.subtract(b), "a_except_b"))
        .unionByName(labeled(b.subtract(a), "b_except_a"))
        .unionByName(labeled(a.union(b).distinct(), "union"))
    )


# ---------------------------------------------------------------------------
# Duplicated-span coverage — sliding-window near-verbatim detection (the
# suffix-array-dedup stand-in from "Deduplicating Training Data Makes
# Language Models Better": how much of each doc is covered by token spans
# that also appear elsewhere in the corpus).
# ---------------------------------------------------------------------------
SPAN_TOKENS = 8  # window length; sliding (unlike llm_chunk_dedup's aligned)


@query(
    "llm_dup_span_coverage",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), idx AS (
    SELECT doc_id, tk,
           unnest(range(1, greatest(len(tk) - {SPAN_TOKENS - 2}, 1))) AS i
    FROM t
), w AS (
    SELECT doc_id, i,
           md5(array_to_string(tk[i:(i+{SPAN_TOKENS - 1})], ' ')) AS h
    FROM idx
), freq AS (
    SELECT h,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM w GROUP BY 1
)
SELECT w.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN f.n_docs > 1 OR f.n_occ > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_windows,
       CAST((1000 * SUM(CASE WHEN f.n_docs > 1 OR f.n_occ > 1 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS dup_coverage_pm
FROM w JOIN freq f ON w.h = f.h
GROUP BY 1
""",
    tags=("llm-text", "dedup"),
)
def llm_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span coverage: the fraction of SLIDING 8-token
    windows whose content also occurs elsewhere (another doc, or again in
    the same doc) — the scalable stand-in for suffix-array substring dedup
    (Lee et al. 2022): coverage ~1000 means the doc is assembled from
    repeated material even when no aligned chunk or full-doc hash matches.

    Shape: sliding windows hashed to md5 (16-byte keys cross the shuffle,
    never the spans), one (hash) count shuffle with map-side combine, then
    the frequency frame joins BACK on the hash — at 100 TB that join stays
    a hash shuffle join keyed on the window hash; the per-doc rollup is
    the second and last shuffle. Window count is ~tokens-per-doc, so work
    is linear in corpus tokens.
    """
    return dup_span_coverage(T.load(spark, sf_dir, "documents"))


def dup_span_coverage(d: DataFrame) -> DataFrame:
    """Dup-span core over any (doc_id, text) frame — see
    ``llm_dup_span_coverage`` for semantics; split out so property tests
    drive the same code path with generated corpora."""
    tk = F.split(F.col("text"), " ")
    # guard BEFORE sequence(): Spark's sequence(1, 0) auto-steps DOWN to
    # [1, 0] instead of being empty, so short docs must be filtered out
    # (the oracle's range(1, greatest(len-6, 1)) is empty for them).
    spans = F.transform(
        F.sequence(F.lit(1), F.size(tk) - (SPAN_TOKENS - 1)),
        lambda i: F.md5(F.array_join(F.slice(tk, i, SPAN_TOKENS), " ")),
    )
    w = d.filter(F.size(tk) >= SPAN_TOKENS).select(
        "doc_id", F.explode(spans).alias("h")
    )
    freq = w.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    dup = F.when((F.col("n_docs") > 1) | (F.col("n_occ") > 1), 1).otherwise(0)
    return (
        w.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(dup).cast("bigint").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr("(1000 * n_dup_windows) div n_windows")
            .cast("bigint")
            .alias("dup_coverage_pm"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding covariance sufficient statistics — the PCA/whitening prep step:
# the upper-triangle Gram matrix + per-dim sums as ONE mergeable aggregate.
# ---------------------------------------------------------------------------
from .llm_queries import VEC_DEC  # noqa: E402  (shared decimal ladder)

_COV_E9 = "CAST(floor(1000000000.0 * CAST({} AS DOUBLE)) AS BIGINT)"


@query(
    "llm_embedding_covariance",
    oracle=f"""
WITH ix AS (
    SELECT unnest(range(1, 65)) AS i
), jx AS (
    SELECT unnest(range(1, 65)) AS j
), terms AS (
    SELECT ix.i, jx.j,
           CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS {VEC_DEC})
             * CAST(CAST(e.embedding[jx.j] AS DOUBLE) AS {VEC_DEC}) AS pxy,
           CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS {VEC_DEC}) AS px,
           CAST(CAST(e.embedding[jx.j] AS DOUBLE) AS {VEC_DEC}) AS py
    FROM embeddings e, ix, jx
    WHERE jx.j >= ix.i
)
SELECT i, j,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_COV_E9.format("SUM(pxy)")} AS sxy_e9,
       {_COV_E9.format("SUM(px)")}  AS sx_e9,
       {_COV_E9.format("SUM(py)")}  AS sy_e9
FROM terms GROUP BY 1, 2
""",
    tags=("llm-similarity", "linear-algebra"),
)
def llm_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance sufficient statistics over the embedding
    column: per (i, j<=i..D) the exact-decimal Σx_i·x_j, Σx_i, Σx_j and
    count — everything PCA / whitening / Mahalanobis needs, computed as
    one distributive aggregate (partial sums merge associatively, so
    map-side combine reduces every partition to D(D+1)/2 rows before the
    single 2,080-group shuffle).

    The declarative pair explode amplifies rows D(D+1)/2 x — that IS the
    cost of second-moment statistics; at 100 TB the same sufficient
    statistics would fold per-partition via an Arrow mapInPandas numpy
    X^T X (one BLAS call per batch) and merge the partials — the shuffle
    topology (2,080 groups) is identical, so this oracle-matched form is
    the semantics contract for that kernel. Sums are exact DECIMAL, scaled
    to integer e9 at the boundary.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    # quantize ONCE per row into a decimal array (64 double->BigDecimal
    # casts), then build the D(D+1)/2 pair terms from the quantized
    # values — the naive per-pair form re-cast each element ~65 times
    # (4,160 BigDecimal constructions per row), which dominated the whole
    # query (2.7x measured at x10). Same decimal values, so the sums and
    # the oracle hash are bit-identical.
    from .llm_queries import _qdec

    qd = emb.select(_qdec(F.col("embedding")).alias("q"))
    qcol = F.col("q")
    pair_terms = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.transform(
                F.sequence(i, F.lit(64)),
                lambda j: F.struct(
                    i.cast("bigint").alias("i"),
                    j.cast("bigint").alias("j"),
                    (F.element_at(qcol, i) * F.element_at(qcol, j)).alias(
                        "pxy"
                    ),
                    F.element_at(qcol, i).alias("px"),
                    F.element_at(qcol, j).alias("py"),
                ),
            ),
        )
    )
    t = qd.select(F.explode(pair_terms).alias("t")).select("t.*")
    return t.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(_COV_E9.format("SUM(pxy)")).alias("sxy_e9"),
        F.expr(_COV_E9.format("SUM(px)")).alias("sx_e9"),
        F.expr(_COV_E9.format("SUM(py)")).alias("sy_e9"),
    )


# ---------------------------------------------------------------------------
# Column profiling — the one-pass null/distinct report every ingest DQ
# gate runs before a table is admitted to the warehouse.
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@query(
    "dq_null_profile",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders"""
        for c in _PROFILE_COLS
    ),
    tags=("dq", "profiling"),
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-count + exact distinct-count profile of ``orders``,
    emitted long-form (col_name, n_rows, n_null, n_distinct).

    ONE aggregation pass: Spark plans the N exact distincts as a single
    Expand (xN row multiply, each replica keyed by one column) feeding one
    map-combined shuffle — versus the naive N separate scans the oracle
    spells. The null counts ride the same pass free. At extreme
    cardinality you'd swap exact distincts for the mergeable KMV sketch
    (``llm_sketch_kmv_distinct``) — same plan shape, bounded state. The
    long-form stack happens AFTER aggregation (6 rows), costing nothing.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    prof = o.agg(*aggs)
    stack = "stack({}, {}) as (col_name, n_null, n_distinct)".format(
        len(_PROFILE_COLS),
        ", ".join(f"'{c}', null_{c}, dist_{c}" for c in _PROFILE_COLS),
    )
    return prof.select(F.expr(stack), "n_rows").select(
        "col_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )
