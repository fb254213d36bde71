"""Per-document text analysis and corpus language statistics.

- token counts, heuristic quality score, stopword-hit language ID,
  length quantiles, normalized-text fingerprint;
- repetition, type-token and Gopher-style rare-token ratios,
  ARI-style readability, PII redaction;
- corpus n-gram heavy hitters and tf-idf top terms;
- ``llm_text_unigram_surprisal`` / ``llm_text_bigram_surprisal`` —
  corpus-trained unigram / bigram LM rarity per document (the
  perplexity-lite quality signal) in exact integer bits;
- BPE: first-merge pair counts over the distinct-word table, the merge
  trainer and the corpus encoder;
- ``llm_quality_classifier`` — the learned quality filter (C4/CCNet
  pattern): a linear model shipped as a 1-row weights frame, broadcast
  and scored map-side; ``llm_quality_train_step`` — its training half,
  the normal-equation sufficient statistics (upper triangle of X'X plus
  X'y) over the same feature block, label ``lang = 'en'``.

Stopword lists and hit expressions come from ``operators.stopwords``.

Determinism (catalog.py contract): every score is exact integer
arithmetic. Floor-log2 is ``length(bin(x)) - 1`` — both engines render
``bin(BIGINT)`` without leading zeros, where ``floor(log2(double))`` would
be libm-dependent at powers of two. The quality model is INTEGER
milli-logits (thresholding the linear score at 0 is the logistic
decision boundary, no exp()); the training design matrix is cast to
DECIMAL(18,0) once, so every Gram sum is DECIMAL-exact. A possibly
negative quantity (ARI score, model score) is only multiplied, compared
or summed, never divided.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.minhash import is_trigram, shingle_sql, trigram_array
from ..operators.stopwords import (
    LANG_STOPWORDS,
    STOP_SQL,
    hits_sql,
    langid_predict,
)
from .catalog import query


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
       (1000 * len(list_filter(toks, x -> x IN {STOP_SQL})))
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


@query(
    "llm_text_langid",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang AS labeled_lang,
           {hits_sql(LANG_STOPWORDS['en'])} AS en_hits,
           {hits_sql(LANG_STOPWORDS['fr'])} AS fr_hits,
           {hits_sql(LANG_STOPWORDS['es'])} AS es_hits,
           {hits_sql(LANG_STOPWORDS['de'])} AS de_hits
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


# ---------------------------------------------------------------------------
# Repetition-based quality filter (the Gopher-rules family): within-doc
# duplicate n-gram fraction, computed MAP-ONLY (array expressions, zero
# shuffle before the stats rollup the caller adds).
# ---------------------------------------------------------------------------
REP_FLAG_PM = 100  # flag docs with > 10% duplicate 3-grams


@query(
    "llm_text_repetition",
    oracle=f"""
WITH {shingle_sql(distinct=False)}, agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(COUNT(DISTINCT shingle) AS BIGINT) AS distinct_ngrams
    FROM sh GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.total_ngrams, 0) AS total_ngrams,
       COALESCE(a.distinct_ngrams, 0) AS distinct_ngrams,
       CAST((1000 * (COALESCE(a.total_ngrams, 0) - COALESCE(a.distinct_ngrams, 0)))
            // greatest(COALESCE(a.total_ngrams, 0), 1) AS BIGINT) AS rep_permille,
       CAST((1000 * (COALESCE(a.total_ngrams, 0) - COALESCE(a.distinct_ngrams, 0)))
            // greatest(COALESCE(a.total_ngrams, 0), 1) > {REP_FLAG_PM} AS INT)
           AS flagged
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
    tags=("llm-text", "quality"),
)
def llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (Gopher-style quality rule):
    duplicate word-3-gram fraction per doc, flagged above {pm}‰.

    Scale shape: the entire score is per-row ARRAY arithmetic — build the
    shingle array, ``size`` vs ``size(array_distinct)`` — so the operator
    is map-only whole-stage codegen over the scan: no explode, no shuffle,
    nothing materialized per n-gram. (The oracle takes the explode+GROUP
    BY road; only the OUTPUT must match.)
    """
    d = T.load(spark, sf_dir, "documents")
    # split once into a named column, then the 3-gram array once: both
    # feed more than one expression
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    arr = toks.select(
        "doc_id", F.filter(trigram_array(F.col("t")), is_trigram).alias("shs")
    )
    out = arr.select(
        "doc_id",
        F.size("shs").cast("bigint").alias("total_ngrams"),
        F.size(F.array_distinct("shs")).cast("bigint").alias("distinct_ngrams"),
    )
    rep = F.expr(
        "cast((1000 * (total_ngrams - distinct_ngrams))"
        " div greatest(total_ngrams, 1) as bigint)"
    )
    return out.select(
        "doc_id",
        "total_ngrams",
        "distinct_ngrams",
        rep.alias("rep_permille"),
        (rep > REP_FLAG_PM).cast("int").alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Corpus-wide n-gram heavy hitters — boilerplate detection (the "top
# repeated 3-grams" report used to find headers/footers/templates).
# ---------------------------------------------------------------------------
HH_MIN_SUPPORT = 5
HH_TOP_K = 50


@query(
    "llm_ngram_heavy_hitters",
    oracle=f"""
WITH {shingle_sql(distinct=False)}, a AS (
    SELECT shingle AS ngram,
           CAST(COUNT(*) AS BIGINT)               AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM sh GROUP BY 1 HAVING COUNT(*) >= {HH_MIN_SUPPORT}
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
    toks = T.load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    a = (
        toks.select("doc_id", F.explode(trigram_array(F.col("t"))).alias("ngram"))
        .filter(is_trigram(F.col("ngram")))
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
# llm_text_rare_token_ratio — Gopher-rules-style quality signal: fraction of
# token OCCURRENCES whose corpus frequency is below the mean token frequency
# (floor-integer threshold => exact on both engines). High rare-ratio docs
# are OOV-heavy / noisy; low ones are boilerplate.
#
# Scale: token-frequency agg is map-combined (shuffle keyed on token); the
# per-doc pass joins tokens to the frequency table on token — a shuffle join
# at vocab scale (the vocab is orders of magnitude smaller than the corpus;
# freq is localCheckpoint'ed so the scalar threshold and the join side don't
# re-derive the explode). No windows, no driver loops.
# ---------------------------------------------------------------------------
@query(
    "llm_text_rare_token_ratio",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM toks GROUP BY 1
), sc AS (
    SELECT CAST(SUM(ct) AS BIGINT) AS total_occ,
           CAST(COUNT(*) AS BIGINT) AS n_vocab
    FROM freq
), rare AS (
    SELECT f.token,
           CASE WHEN f.ct < sc.total_occ // sc.n_vocab THEN 1 ELSE 0 END AS is_rare
    FROM freq f CROSS JOIN sc
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT)                       AS n_tokens,
       CAST(SUM(r.is_rare) AS BIGINT)                 AS n_rare,
       CAST((1000 * SUM(r.is_rare)) // COUNT(*) AS BIGINT) AS rare_permille
FROM toks t JOIN rare r ON t.token = r.token
GROUP BY 1
""",
    tags=("llm-text",),
)
def llm_text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rare-token occurrence ratio vs the corpus mean frequency."""
    d = T.load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    freq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
        .localCheckpoint()  # vocab-sized; feeds the scalar AND the join
    )
    sc = freq.agg(
        F.sum("ct").cast("bigint").alias("total_occ"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    rare = freq.crossJoin(F.broadcast(sc)).select(
        "token",
        F.when(F.col("ct") < F.expr("total_occ div n_vocab"), 1)
        .otherwise(0)
        .alias("is_rare"),
    )
    # pinned shuffle_hash: the block comment's intended plan. Catalyst's
    # file-size estimate otherwise BROADCASTS the exploded token stream
    # (the largest frame in the query — hash-building the corpus) once the
    # checkpointed vocab estimate exceeds it; the hint keeps the join
    # shuffled on token with the vocab side built per-partition.
    return (
        toks.join(rare.hint("shuffle_hash"), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("is_rare").cast("bigint").alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            F.expr("(1000 * n_rare) div n_tokens").cast("bigint").alias(
                "rare_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# llm_pii_redact — PII detection + redaction, the scrubbing pass every
# training-data pipeline runs before text reaches a tokenizer. Three
# pattern classes (email / phone / dotted-quad IP) applied SEQUENTIALLY:
# count on the current text, then replace-all, so the counts are
# well-defined even when patterns could overlap. Patterns stay inside the
# Java-regex ∩ RE2 common subset (character classes + bounded repetition,
# no backreferences/lookaround), so both engines match identically.
#
# The testdata text carries no natural PII, so deterministic PII derived
# from doc_id is INJECTED JVM-side (same construction in the oracle —
# the WAV/PPM trick applied to text): ~3/4 of docs gain exactly one
# match, the rest stay clean negatives. Map-only: one scan, no shuffle.
# ---------------------------------------------------------------------------
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\d{3}[- ]\d{3}[- ]\d{4}"
PII_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

_PII_INJ_SQL = """
    text || CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com today'
        WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST((doc_id // 256) % 256 AS VARCHAR) || '.1'
        ELSE '' END
"""


@query(
    "llm_pii_redact",
    oracle=f"""
WITH inj AS (
    SELECT doc_id, {_PII_INJ_SQL} AS t FROM documents
), e AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t
    FROM inj
), p AS (
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(t, '{PII_PHONE}', '<PHONE>', 'g') AS t
    FROM e
), i AS (
    SELECT doc_id, n_emails, n_phones,
           CAST(len(regexp_extract_all(t, '{PII_IP}')) AS BIGINT) AS n_ips,
           regexp_replace(t, '{PII_IP}', '<IP>', 'g') AS t
    FROM p
)
SELECT doc_id, n_emails, n_phones, n_ips,
       CAST(octet_length(encode(t)) AS BIGINT) AS redacted_len,
       md5(t) AS redacted_md5
FROM i
""",
    tags=("llm-text", "pii"),
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-doc email/phone/IP match counts + the md5 of the
    fully-redacted text (proving the replacement bytes, not just the
    counts, agree across engines). Patterns passed to the JVM regex
    engine via function arguments (no SQL-string escaping ambiguity);
    whole pipeline is one codegen projection over one scan."""
    d = T.load(spark, sf_dir, "documents")
    t0 = F.expr(
        _PII_INJ_SQL.replace("//", "div").replace("AS VARCHAR", "AS STRING")
    )
    out = d.select("doc_id", t0.alias("t"))
    for pat, tag, cnt in (
        (PII_EMAIL, "<EMAIL>", "n_emails"),
        (PII_PHONE, "<PHONE>", "n_phones"),
        (PII_IP, "<IP>", "n_ips"),
    ):
        out = out.withColumn(
            cnt,
            F.size(F.regexp_extract_all("t", F.lit(pat), F.lit(0))).cast(
                "bigint"
            ),
        ).withColumn("t", F.regexp_replace("t", pat, tag))
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        F.octet_length(F.encode("t", "utf-8")).cast("bigint").alias(
            "redacted_len"
        ),
        F.md5(F.encode("t", "utf-8")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# llm_text_unigram_surprisal — unigram-LM document rarity score.
#
# Train: token -> corpus count (one corpus shuffle, map-side combined; the
# (doc, term) tf frame is built first so the vocab agg runs over tf, not the
# raw token stream). Score: surprisal(token) = floor(log2(total_tokens /
# count(token))) bits — the integer part of the ideal code length; a doc's
# sum/mean over tokens is the perplexity-lite quality signal (word-salad and
# rare-token docs score high, boilerplate scores low).
#
# Scale: tf agg shuffles the corpus once on (doc_id, term) with map-side
# combine; the vocab is orders of magnitude smaller than the corpus and is
# joined back with a broadcast hint (same posture as llm_tfidf_top_terms);
# the final per-doc agg shuffles tf — already the compressed representation —
# on doc_id. No floating point anywhere.
# ---------------------------------------------------------------------------


@query(
    "llm_text_unigram_surprisal",
    oracle="""
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), vocab AS (
    SELECT term, CAST(SUM(tf) AS BIGINT) AS tc FROM tf GROUP BY 1
), tot AS (
    SELECT CAST(SUM(tc) AS BIGINT) AS total_tokens FROM vocab
), s AS (
    SELECT tf.doc_id, tf.tf,
           CAST(length(bin(t.total_tokens // v.tc)) - 1 AS BIGINT) AS bits
    FROM tf JOIN vocab v USING (term) CROSS JOIN tot t
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT)        AS n_tokens,
       CAST(SUM(tf * bits) AS BIGINT) AS sum_surprisal_bits,
       CAST((1000 * SUM(tf * bits)) // greatest(SUM(tf), 1) AS BIGINT)
                                      AS mean_surprisal_millibits
FROM s GROUP BY 1
""",
    tags=("llm-text", "quality"),
)
def llm_text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM surprisal: mean/sum of floor(log2(N/count))
    bits per token, trained on the corpus itself.

    ``bin()``-length floor-log2 keeps the score exact-integer on both
    engines (transcendental log2 is libm-dependent and never hash-stable).
    total // tc >= 1 always (tc <= total), so bin() never sees 0.
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        t.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        # tf feeds BOTH the model derivation (vocab -> tot) and the scoring
        # join — without this the corpus is scanned and shuffled once per
        # consumer (censused at 3 scans); checkpointing the compressed
        # (doc,term,tf) frame is the standard fan-out trade
        .localCheckpoint()
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("tc"))
    tot = vocab.agg(F.sum("tc").cast("bigint").alias("total_tokens"))
    s = (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bits",
            F.expr("CAST(length(bin(total_tokens div tc)) - 1 AS BIGINT)"),
        )
    )
    return s.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("bits")).cast("bigint").alias(
            "sum_surprisal_bits"
        ),
        F.expr(
            "CAST((1000 * SUM(tf * bits)) div greatest(SUM(tf), 1) AS BIGINT)"
        ).alias("mean_surprisal_millibits"),
    )


# ---------------------------------------------------------------------------
# llm_text_bigram_surprisal — conditional (bigram) LM surprisal per doc.
#
# The bigram upgrade of the unigram score: surprisal of token w2 given its
# predecessor w1 is floor(log2(count(w1 as context) / count(w1,w2))) bits —
# docs whose word order is improbable under the corpus bigram model score
# high even when every individual token is common (word-salad detection the
# unigram score misses).
#
# Scale: the corpus folds to (doc, w1, w2, btf) in one map-combined shuffle;
# the bigram and context-count tables are vocab²-/vocab-sized and broadcast
# back; the per-doc agg reruns over the compressed dtf frame. Exact integer
# arithmetic throughout (bin()-length floor-log2); cc >= bc always because
# cc(w1) sums bc(w1, *).
# ---------------------------------------------------------------------------


@query(
    "llm_text_bigram_surprisal",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tf AS (
    SELECT doc_id, t FROM t WHERE len(t) >= 2
), idx AS (
    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tf
), pr AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM idx
), dtf AS (
    SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS btf
    FROM pr GROUP BY 1, 2, 3
), bc AS (
    SELECT w1, w2, CAST(SUM(btf) AS BIGINT) AS bc FROM dtf GROUP BY 1, 2
), cc AS (
    SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc FROM bc GROUP BY 1
), s AS (
    SELECT dtf.doc_id, dtf.btf,
           CAST(length(bin(cc.cc // bc.bc)) - 1 AS BIGINT) AS bits
    FROM dtf JOIN bc USING (w1, w2) JOIN cc USING (w1)
)
SELECT doc_id,
       CAST(SUM(btf) AS BIGINT)        AS n_bigrams,
       CAST(SUM(btf * bits) AS BIGINT) AS sum_bigram_bits,
       CAST((1000 * SUM(btf * bits)) // greatest(SUM(btf), 1) AS BIGINT)
                                       AS mean_bigram_millibits
FROM s GROUP BY 1
""",
    tags=("llm-text", "quality"),
)
def llm_text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document conditional bigram surprisal: mean/sum of
    floor(log2(context_count / bigram_count)) bits over adjacent token
    pairs, trained on the corpus itself.

    element_at indices are in [1, size] by the sequence bounds (i up to
    size-1, i+1 up to size), so ANSI mode never faults; docs with fewer
    than two tokens drop out on both engines (len filter / inner join).
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    dtf = (
        pairs.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("btf"))
        # dtf feeds the bigram/context model AND the scoring join — same
        # checkpoint-the-fan-out discipline as the unigram twin
        .localCheckpoint()
    )
    bc = dtf.groupBy("w1", "w2").agg(F.sum("btf").cast("bigint").alias("bc"))
    cc = bc.groupBy("w1").agg(F.sum("bc").cast("bigint").alias("cc"))
    s = (
        dtf.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(cc), "w1")
        .withColumn(
            "bits", F.expr("CAST(length(bin(cc div bc)) - 1 AS BIGINT)")
        )
    )
    return s.groupBy("doc_id").agg(
        F.sum("btf").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("btf") * F.col("bits")).cast("bigint").alias(
            "sum_bigram_bits"
        ),
        F.expr(
            "CAST((1000 * SUM(btf * bits)) div greatest(SUM(btf), 1) AS BIGINT)"
        ).alias("mean_bigram_millibits"),
    )


# ---------------------------------------------------------------------------
# llm_bpe_pair_counts — tokenizer induction, step one of BPE: count adjacent
# character pairs weighted by word frequency; the top pair is the first
# merge a BPE trainer would perform.
#
# Scale: the corpus is folded to the word-frequency table first (one
# map-combined shuffle); pair explosion runs over DISTINCT WORDS — a
# vocabulary-sized frame — so a trillion-token corpus costs one shuffle plus
# vocab-sized work. The final ranking windows over the aggregated PAIR table,
# whose cardinality is bounded by charset^2 (~single-digit thousands for
# ASCII text) independent of corpus size, so the single-partition sort is a
# constant-size step at any scale.
# ---------------------------------------------------------------------------
BPE_TOP_K = 20


@query(
    "llm_bpe_pair_counts",
    oracle=f"""
WITH w AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM w WHERE length(word) >= 2 GROUP BY 1
), idx AS (
    SELECT word, freq, unnest(range(1, length(word))) AS i FROM wf
), p AS (
    SELECT substr(word, i, 2) AS pair, freq FROM idx
), pc AS (
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM p GROUP BY 1
), r AS (
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
               AS rnk
    FROM pc
)
SELECT pair, pair_count, rnk FROM r WHERE rnk <= {BPE_TOP_K}
""",
    tags=("llm-text", "tokenizer"),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} adjacent character pairs by corpus-frequency-weighted count —
    the first merge step of a BPE tokenizer trainer.

    Pairs are generated from the distinct-word table (vocab-sized), weighted
    by word frequency; rank ties broken by the pair string so the top-K set
    is deterministic on both engines.
    """
    d = T.load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    wf = w.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    p = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    pc = p.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("pair_count"))
    rnk = F.row_number().over(
        Window.orderBy(F.col("pair_count").desc(), "pair")
    )
    return (
        pc.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= BPE_TOP_K)
        .select("pair", "pair_count", "rnk")
    )


# ---------------------------------------------------------------------------
# llm_bpe_train_merges — the REAL BPE training loop (N merge rounds).
#
# Extends llm_bpe_pair_counts (one pair-count step) into the iterative
# trainer (Sennrich et al. 2016): per round, (1) count adjacent SYMBOL
# pairs over the frequency-weighted vocabulary, (2) pick the most frequent
# pair (count DESC, then symbols lexicographically — deterministic), and
# (3) merge every greedy left-to-right occurrence in every word. The merge
# is an EXACT greedy fold, identical on both engines: words are
# '|'-delimited symbol strings folded element-by-element — the accumulator
# ends with '|'+left and the next element equals '|'+right iff the LAST
# SYMBOL is exactly `left` (the delimiter cannot appear inside a symbol),
# in which case `right` is appended WITHOUT a delimiter (the in-place
# merge); a just-merged token never re-merges in the same round because
# left+right != left (right is non-empty). Spark folds with
# aggregate(zero='') and DuckDB with list_reduce(init=first element) —
# equivalent because the zero-acc first step is always the plain append.
#
# Scale: the corpus folds once to the word-frequency table; every round is
# vocabulary-sized (pair agg with map-side combine -> LIMIT-1 top over the
# charset²-bounded pair table -> broadcast 1-row join + narrow map). Each
# round's vocab and top row are localCheckpoint'ed: the DAG would
# otherwise recompute vocab_r for vocab_{r+1} AND for its pair agg —
# exponential in rounds. No driver-side collect anywhere: the chosen pair
# flows into the next round as a broadcast row, not a literal.
# ---------------------------------------------------------------------------
BPE_TRAIN_ROUNDS = 4
_BPE_STEP = (
    "case when right(acc, length(lft) + 1) = concat('|', lft)"
    " and x = concat('|', rgt) then concat(acc, rgt)"
    " else concat(acc, x) end"
)


def _bpe_cte_prefix() -> str:
    """The shared DuckDB training CTEs: wf -> v0 -> (pc/top/v)*rounds.
    Word identity rides through every round so the final vocab CTE doubles
    as the encode lookup table."""
    parts = [
        """
WITH wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) >= 1 AND word NOT LIKE '%|%'
    GROUP BY 1
), v0 AS (
    SELECT word, freq, string_split(word, '') AS syms FROM wf
)"""
    ]
    for r in range(BPE_TRAIN_ROUNDS):
        parts.append(
            f""", pc{r} AS (
    SELECT syms[i] AS lft, syms[i + 1] AS rgt,
           CAST(SUM(freq) AS BIGINT) AS cnt
    FROM v{r}, unnest(range(1, len(syms))) t(i)
    WHERE len(syms) >= 2
    GROUP BY 1, 2
), top{r} AS (
    SELECT lft, rgt, cnt FROM pc{r} ORDER BY cnt DESC, lft, rgt LIMIT 1
), v{r + 1} AS (
    SELECT v.word, v.freq,
           string_split(substr(list_reduce(
               list_transform(v.syms, s -> '|' || s),
               (acc, x) -> CASE WHEN right(acc, length(t.lft) + 1)
                                     = '|' || t.lft
                                AND x = '|' || t.rgt
                                THEN acc || t.rgt ELSE acc || x END
           ), 2), '|') AS syms
    FROM v{r} v CROSS JOIN top{r} t
)"""
        )
    return "".join(parts)


def _bpe_oracle() -> str:
    finals = " UNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, lft AS left_sym,"
        f" rgt AS right_sym, lft || rgt AS merged, cnt AS pair_count"
        f" FROM top{r}"
        for r in range(BPE_TRAIN_ROUNDS)
    )
    return _bpe_cte_prefix() + "\n" + finals


def _bpe_train(
    spark: SparkSession, sf_dir: str, need_vocab: bool = True
) -> tuple[list[DataFrame], DataFrame | None]:
    """Run the BPE_TRAIN_ROUNDS training rounds; returns (tops, vocab):
    ``tops`` = one checkpointed 1-row frame per round (lft, rgt, cnt), and
    ``vocab`` = the final (word, freq, syms) frame with all merges applied
    — the artifact the encode query consumes (None when ``need_vocab``
    is False: the merge-table query never reads it, so the final —
    heaviest — vocabulary fold is neither planned nor run). Word identity
    is carried through every round so the trained vocabulary doubles as
    the encode lookup table.

    r13 job shape (guide §2 chained shuffles / §5 lineage): the 1-row
    ``top`` checkpoints stay EAGER (one pair-count job per round — the
    round barrier is inherent to greedy BPE), but the vocabulary folds are
    LAZY checkpoints: each materializes inside the NEXT round's pair-count
    job (or the encode consumer) instead of paying its own job + an extra
    pass over the blocks, halving the job count. The fold itself only
    runs the interpreted greedy aggregate on words that can contain the
    winning pair: syms partitions word into contiguous substrings, so
    adjacent (lft, rgt) implies instr(word, lft||rgt) > 0 — for every
    other word the fold is the identity and the CASE skips it."""
    d = T.load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        (F.length("word") >= 1) & (~F.col("word").like("%|%"))
    )
    wf = w.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    cur = wf.select(
        "word", "freq", F.split("word", "").alias("syms")
    ).localCheckpoint(eager=False)
    tops: list[DataFrame] = []
    for _r in range(BPE_TRAIN_ROUNDS):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) as lft,"
                        " element_at(syms, i + 1) as rgt))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.lft", "p.rgt")
        )
        pc = pairs.groupBy("lft", "rgt").agg(
            F.sum("freq").cast("bigint").alias("cnt")
        )
        top = (
            pc.orderBy(F.col("cnt").desc(), "lft", "rgt")
            .limit(1)
            .localCheckpoint()
        )
        tops.append(top)
        if _r == BPE_TRAIN_ROUNDS - 1 and not need_vocab:
            return tops, None
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                "word",
                "freq",
                F.expr(
                    "CASE WHEN instr(word, concat(lft, rgt)) = 0 THEN syms"
                    " ELSE split(substr(aggregate("
                    " transform(syms, s -> concat('|', s)), '',"
                    f" (acc, x) -> {_BPE_STEP}), 2), '\\\\|') END"
                ).alias("syms"),
            )
            .localCheckpoint(eager=False)
        )
    return tops, cur


@query(
    "llm_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("llm-text", "tokenizer"),
)
def llm_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 4 merge rounds end-to-end: per round the
    winning adjacent symbol pair (frequency-weighted, deterministic
    tie-break) merges greedily left-to-right across the whole vocabulary,
    and the next round trains on the merged symbols. Output = the ordered
    merge table (rank, pair, merged token, count) — the artifact a BPE
    tokenizer ships. Exact greedy-fold semantics proven equal across
    engines by construction (see block comment) and pinned by the
    from-scratch python model test."""
    tops, _ = _bpe_train(spark, sf_dir, need_vocab=False)
    out = None
    for r, top in enumerate(tops):
        row = top.select(
            F.lit(r + 1).cast("bigint").alias("merge_rank"),
            F.col("lft").alias("left_sym"),
            F.col("rgt").alias("right_sym"),
            F.concat("lft", "rgt").alias("merged"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# llm_bpe_encode_corpus — apply the trained merges to every document.
#
# The other half of the tokenizer pair: train once (vocabulary-sized), then
# ENCODE the corpus through the merge table. The trained vocabulary IS the
# encode lookup (word -> merged symbol count), broadcast against the
# corpus word stream — the encode pass is scan -> explode -> broadcast
# join -> per-doc agg: no corpus shuffle except the final doc_id fold of
# the already-compressed (doc, word-count) rows. Per-doc char-token vs
# BPE-token counts + the per-mille saving are the tokenizer-efficiency
# metric a training pipeline tracks per corpus slice.
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    final = f"""
, enc AS (
    SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe
    FROM v{BPE_TRAIN_ROUNDS}
), t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tw AS (
    SELECT doc_id, word FROM t
    WHERE length(word) >= 1 AND word NOT LIKE '%|%'
)
SELECT tw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(tw.word)) AS BIGINT) AS n_char_tokens,
       CAST(SUM(e.n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST((1000 * (SUM(length(tw.word)) - SUM(e.n_bpe)))
            // SUM(length(tw.word)) AS BIGINT) AS saved_permille
FROM tw JOIN enc e USING (word)
GROUP BY 1
"""
    return _bpe_cte_prefix() + final


@query(
    "llm_bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    tags=("llm-text", "tokenizer"),
)
def llm_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the 4-round trained BPE merges: per doc,
    word count, char-level token count, BPE token count and the per-mille
    compression the merges bought. Train is vocabulary-sized; encode is a
    broadcast lookup of the trained vocab against the corpus word stream —
    the map-side-combinable (doc_id) fold is the only corpus shuffle."""
    _, vocab = _bpe_train(spark, sf_dir)
    enc = vocab.select(
        "word", F.size("syms").cast("bigint").alias("n_bpe")
    )
    d = T.load(spark, sf_dir, "documents")
    tw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter((F.length("word") >= 1) & (~F.col("word").like("%|%")))
    return (
        tw.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_char_tokens"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
            F.expr(
                "cast((1000 * (sum(length(word)) - sum(n_bpe)))"
                " div sum(length(word)) as bigint)"
            ).alias("saved_permille"),
        )
    )


# ---------------------------------------------------------------------------
# llm_text_readability — ARI-style integer readability score.
#
# Automated Readability Index: 4.71*(chars/words) + 0.5*(words/sentences)
# - 21.43, kept exact as centi-grades: 471*chars div words + 50*words div
# sents - 2143. Every div has non-negative operands (chars/words/sents
# are counts, guarded >= 1); the final score CAN go negative (trivial
# texts), which is safe because it is never divided — the grade band
# CASEs the negative branch to 0 before its div (catalog sign rule).
# ---------------------------------------------------------------------------


@query(
    "llm_text_readability",
    oracle="""
WITH m AS (
    SELECT doc_id,
           CAST(GREATEST(len(string_split(text, ' ')), 1) AS BIGINT)
               AS n_words,
           CAST(GREATEST(length(text) - length(translate(text, '.!?', '')),
                         1) AS BIGINT) AS n_sents,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters
    FROM documents
), s AS (
    SELECT doc_id, n_words, n_sents, n_letters,
           CAST((471 * n_letters) // n_words + (50 * n_words) // n_sents
                - 2143 AS BIGINT) AS ari_c100
    FROM m
)
SELECT doc_id, n_words, n_sents, n_letters, ari_c100,
       CAST(CASE WHEN ari_c100 < 0 THEN 0
                 ELSE LEAST(ari_c100 // 100, 14) END AS BIGINT) AS grade_band
FROM s
""",
    tags=("llm-text",),
)
def llm_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ARI readability in exact integer centi-grades, plus
    the 0..14 grade band a corpus-quality filter thresholds on. Stacks
    with langid/quality_score/repetition as the fourth text-quality
    signal (readability-targeted corpus mixes are standard pretraining
    practice).

    Scale shape: pure map-side codegen over one pruned scan (three string
    expressions per row, no shuffle at all — the plan is scan->project).
    translate() deletes unmatched chars in both engines (Postgres
    semantics), so sentence counting is the same length difference on
    both sides; no floats, no transcendentals.
    """
    return readability(T.load(spark, sf_dir, "documents"))


def readability(d: DataFrame) -> DataFrame:
    """ARI core over any (doc_id, text) frame — split out so the exact
    python model drives hand-built edge-case texts."""
    m = d.select(
        "doc_id",
        F.expr(
            "CAST(GREATEST(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("n_words"),
        F.expr(
            "CAST(GREATEST(length(text) - length(translate(text, '.!?', '')),"
            " 1) AS BIGINT)"
        ).alias("n_sents"),
        F.expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").alias(
            "n_letters"
        ),
    )
    s = m.withColumn(
        "ari_c100",
        F.expr(
            "CAST((471 * n_letters) div n_words + (50 * n_words) div n_sents"
            " - 2143 AS BIGINT)"
        ),
    )
    return s.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_letters",
        "ari_c100",
        F.expr(
            "CAST(CASE WHEN ari_c100 < 0 THEN 0"
            " ELSE LEAST(ari_c100 div 100, 14) END AS BIGINT)"
        ).alias("grade_band"),
    )


# ---------------------------------------------------------------------------
# llm_quality_classifier — broadcast linear model over per-doc features.
#
# Features (all computed in ONE map-side projection, integer per-mille):
#   n_tokens                   whitespace token count
#   mean_token_len_permille    1000 * non-space chars / tokens
#   stopword_permille          1000 * stopword hits  / tokens
#   distinct_token_permille    1000 * distinct tokens / tokens
#   ari_c100                   ARI readability in centi-grades (can be < 0)
#
# Model: integer milli-logit weights "trained offline" (hand-calibrated
# on the synthetic corpus to a ~50% keep rate so the decision boundary
# is exercised from both sides; a real deployment would overwrite this
# row from its training job's output table). Score:
#
#   score_milli = bias + w_stop*stop + w_dist*dist + w_mtl*mtl
#               + w_ari*ari + w_tok*LEAST(n_tokens, tok_cap)
#   keep_flag   = score_milli >= 0
#
# Overflow audit: |w| <= 40 and every feature is <= 1000 * doc_chars, so
# |score| < 2.5e5 * doc_chars — BIGINT-safe past a 10^13-char document.
# That bound only holds because every `1000 * length(...)`-shaped product
# below promotes the length/size to BIGINT BEFORE the multiply: Spark's
# length()/size() return 32-bit INT, so an uncast product would overflow
# (ANSI error) at ~2.1M non-space chars while DuckDB (BIGINT-native
# length) sailed on — an engine divergence, not just a crash.
#
# Scale shape: scan -> project(features) -> BroadcastNestedLoopJoin
# against the 1-ROW weights frame -> project(score). Zero corpus
# shuffles (the only Exchange is the loader's small-file spread); the
# broadcast side is constant-size by construction (plan guard pins all
# three properties). At 100 TB this is the cheapest possible shape: one
# pruned pass, whole-stage codegen end-to-end, weights replicated once
# per executor.
# ---------------------------------------------------------------------------

QUALITY_MODEL: dict[str, int] = {
    "bias_milli": 1000,
    "w_stop": 40,  # stopword density: the strongest "natural prose" signal
    "w_dist": 6,  # vocabulary distinctness up
    "w_mtl": -1,  # very long mean tokens (code/garbage) down
    "w_ari": -1,  # unreadably high grade level down
    "w_tok": 20,  # reward length up to tok_cap
    "tok_cap": 512,
}

_STOP = "('the', 'a', 'of', 'to', 'and')"

_FEATURES_SQL = f"""
f AS (
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST((1000 * CAST(length(replace(text, ' ', '')) AS BIGINT))
                // greatest(len(toks), 1) AS BIGINT)
               AS mean_token_len_permille,
           CAST((1000 * CAST(len(list_filter(toks, x -> x IN {_STOP}))
                             AS BIGINT))
                // greatest(len(toks), 1) AS BIGINT) AS stopword_permille,
           CAST((1000 * CAST(len(list_distinct(toks)) AS BIGINT))
                // greatest(len(toks), 1) AS BIGINT)
               AS distinct_token_permille,
           CAST((471 * CAST(length(replace(text, ' ', '')) AS BIGINT))
                    // greatest(len(toks), 1)
                + (50 * CAST(len(toks) AS BIGINT))
                    // greatest(length(text)
                                - length(translate(text, '.!?', '')), 1)
                - 2143 AS BIGINT) AS ari_c100
    FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
          FROM documents)
)"""

_MODEL_SQL = """
m AS (
    SELECT {bias_milli} AS bias_milli, {w_stop} AS w_stop,
           {w_dist} AS w_dist, {w_mtl} AS w_mtl, {w_ari} AS w_ari,
           {w_tok} AS w_tok, {tok_cap} AS tok_cap
)""".format(**QUALITY_MODEL)


@query(
    "llm_quality_classifier",
    oracle=f"""
WITH {_FEATURES_SQL.lstrip()}, {_MODEL_SQL.lstrip()}
SELECT doc_id, n_tokens, mean_token_len_permille, stopword_permille,
       distinct_token_permille, ari_c100,
       CAST(bias_milli
            + w_stop * stopword_permille
            + w_dist * distinct_token_permille
            + w_mtl * mean_token_len_permille
            + w_ari * ari_c100
            + w_tok * LEAST(n_tokens, tok_cap) AS BIGINT) AS score_milli,
       CAST(CASE WHEN bias_milli
                      + w_stop * stopword_permille
                      + w_dist * distinct_token_permille
                      + w_mtl * mean_token_len_permille
                      + w_ari * ari_c100
                      + w_tok * LEAST(n_tokens, tok_cap) >= 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
FROM f CROSS JOIN m
""",
    tags=("llm-text", "quality"),
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned corpus-quality filter: a broadcast 1-row linear model
    (integer milli-logit weights) scored map-side over the per-document
    heuristic features — the C4/CCNet-style classifier stage that sits
    after langid/readability in every pretraining data pipeline.
    Thresholding the linear score at 0 is exactly the logistic
    decision (sigmoid is monotone), so no transcendental ever runs.

    Scale shape: one pruned scan -> feature projection ->
    BroadcastNestedLoopJoin with the constant 1-row weights frame ->
    score projection. Zero corpus shuffles; whole-stage codegen
    end-to-end (plan guard pins it).
    """
    d = T.load(spark, sf_dir, "documents")
    return quality_classify(
        quality_features(d), quality_model_frame(spark)
    )


def quality_model_frame(spark: SparkSession) -> DataFrame:
    """The weights as a 1-row frame — the shape a training job's output
    table would have; the query broadcasts it (never the corpus)."""
    cols = list(QUALITY_MODEL)
    return spark.createDataFrame(
        [tuple(QUALITY_MODEL[c] for c in cols)], schema=cols
    ).select(*[F.col(c).cast("bigint").alias(c) for c in cols])


def quality_features(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-document integer feature block over any (doc_id, text) frame —
    one map-side projection, split out so the exact python model drives
    hand-built edge-case texts. ``carry`` passes extra input columns
    through untouched (the train step carries the ``lang`` label; the
    classifier carries nothing, so its plan is byte-identical)."""
    return d.select(
        "doc_id",
        *[F.col(c) for c in carry],
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.expr(
            "CAST((1000 * CAST(length(replace(text, ' ', '')) AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("mean_token_len_permille"),
        F.expr(
            "CAST((1000 * CAST(size(filter(split(text, ' '),"
            f" x -> x IN {_STOP})) AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("stopword_permille"),
        F.expr(
            "CAST((1000 * CAST(size(array_distinct(split(text, ' ')))"
            " AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("distinct_token_permille"),
        F.expr(
            "CAST((471 * CAST(length(replace(text, ' ', '')) AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1)"
            " + (50 * CAST(size(split(text, ' ')) AS BIGINT))"
            " div greatest(length(text)"
            " - length(translate(text, '.!?', '')), 1)"
            " - 2143 AS BIGINT)"
        ).alias("ari_c100"),
    )


def quality_classify(feats: DataFrame, model: DataFrame) -> DataFrame:
    """Score features against a (broadcast) 1-row weights frame. Kept a
    pure function of its inputs so the streaming form IS this map (the
    model is constant within a run; per-doc scoring is stateless —
    test_quality_classifier_is_batch_distributive pins it)."""
    score = (
        "bias_milli"
        " + w_stop * stopword_permille"
        " + w_dist * distinct_token_permille"
        " + w_mtl * mean_token_len_permille"
        " + w_ari * ari_c100"
        " + w_tok * LEAST(n_tokens, tok_cap)"
    )
    return feats.crossJoin(F.broadcast(model)).select(
        "doc_id",
        "n_tokens",
        "mean_token_len_permille",
        "stopword_permille",
        "distinct_token_permille",
        "ari_c100",
        F.expr(f"CAST({score} AS BIGINT)").alias("score_milli"),
        F.expr(
            f"CAST(CASE WHEN {score} >= 0 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("keep_flag"),
    )


# ---------------------------------------------------------------------------
# llm_quality_train_step — normal-equation sufficient statistics.
#
# Design vector per document (integer, cast DECIMAL(18,0) once):
#   bias = 1
#   stop = stopword_permille          dist = distinct_token_permille
#   mtl  = mean_token_len_permille    ari  = ari_c100
#   tok  = LEAST(n_tokens, tok_cap)   y    = (lang = 'en')
#
# Output: 27 rows (row_feat, col_feat, sum_prod, n_rows) — the 21
# upper-triangle X'X cells plus the 6 X'y cells (col_feat = 'y').
#
# Scale shape: scan(text, lang) -> feature projection -> ONE ungrouped
# hash aggregate of 28 scalars. Partial aggregation reduces every
# partition to a single 28-number row map-side; the only data crossing
# the wire is #partitions rows into a SinglePartition exchange; the
# 27-row unpivot (stack) runs on the 1-row result. No Expand, no D x D
# frame, no corpus shuffle — the identical topology at 100 TB, which is
# why this is the right training step for a 1000-executor cluster: the
# model solve itself is a 6x6 driver-side afterthought.
# ---------------------------------------------------------------------------

TRAIN_DEC = "DECIMAL(18,0)"
TRAIN_FEATS = ["bias", "stop", "dist", "mtl", "ari", "tok"]
_X_EXPRS = {
    "bias": "1",
    "stop": "stopword_permille",
    "dist": "distinct_token_permille",
    "mtl": "mean_token_len_permille",
    "ari": "ari_c100",
    "tok": f"LEAST(n_tokens, {QUALITY_MODEL['tok_cap']})",
}
TRAIN_LABEL_SQL = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
# upper triangle, row-major: (bias,bias), (bias,stop), ... (tok,tok)
TRAIN_PAIRS = [
    (a, b) for i, a in enumerate(TRAIN_FEATS) for b in TRAIN_FEATS[i:]
]

_X_SQL = ",\n           ".join(
    f"CAST({_X_EXPRS[a]} AS {TRAIN_DEC}) AS {a}" for a in TRAIN_FEATS
)
_G_SQL = ",\n           ".join(
    [f"SUM({a} * {b}) AS s_{a}_{b}" for a, b in TRAIN_PAIRS]
    + [f"SUM({a} * y) AS s_{a}_y" for a in TRAIN_FEATS]
    + ["COUNT(*) AS n"]
)
_ARMS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS row_feat, '{b}' AS col_feat,"
    f" CAST(s_{a}_{b} AS DOUBLE) AS sum_prod,"
    f" CAST(n AS BIGINT) AS n_rows FROM g"
    for a, b in TRAIN_PAIRS + [(a, "y") for a in TRAIN_FEATS]
)


def quality_train_design(feats: DataFrame) -> DataFrame:
    """Feature block (with ``lang`` carried) -> the decimal design matrix
    plus label: one map-side projection, the single point where DECIMAL
    enters (every downstream product/sum is then exact by construction).
    """
    return feats.select(
        *[F.expr(_X_EXPRS[a]).cast(TRAIN_DEC).alias(a) for a in TRAIN_FEATS],
        F.expr(TRAIN_LABEL_SQL).cast(TRAIN_DEC).alias("y"),
    )


def quality_train_gram(x: DataFrame) -> DataFrame:
    """The 27 output cells of a design frame."""
    return _gram_report(_gram_cells(x))


def _gram_cells(x: DataFrame) -> DataFrame:
    """One ungrouped (map-side-combinable) aggregate of the 28 scalars
    (27 exact-decimal sums + count), then the 27-row unpivot on the
    single result row; sums stay exact DECIMAL."""
    cells = TRAIN_PAIRS + [(a, "y") for a in TRAIN_FEATS]
    g = x.agg(
        *[F.expr(f"SUM({a} * {b})").alias(f"s_{a}_{b}") for a, b in cells],
        F.count(F.lit(1)).alias("n"),
    )
    stack = ", ".join(f"'{a}', '{b}', s_{a}_{b}" for a, b in cells)
    return g.selectExpr(
        f"stack(27, {stack}) AS (row_feat, col_feat, sum_prod_dec)",
        "CAST(n AS BIGINT) AS n_rows",
    )


@query(
    "llm_quality_train_step",
    oracle=f"""
WITH {_FEATURES_SQL.lstrip()}, x AS (
    SELECT {_X_SQL},
           CAST({TRAIN_LABEL_SQL} AS {TRAIN_DEC}) AS y
    FROM f
), g AS (
    SELECT {_G_SQL}
    FROM x
)
{_ARMS_SQL}
""",
    tags=("llm-text", "quality", "training"),
)
def llm_quality_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal-equation sufficient statistics (X'X upper triangle + X'y +
    n) for the learned quality filter, over the r8 per-document feature
    block with the corpus's own ``lang = 'en'`` flag as the label — the
    distributed half of training; the 6x6 solve happens offline.

    Scale shape: one pruned (text, lang) scan -> feature projection ->
    ONE ungrouped hash aggregate (map-side combine folds every partition
    to a single 28-number row; only #partitions rows cross the wire) ->
    27-row stack on the 1-row result. Zero corpus shuffles, no Expand,
    exact DECIMAL end-to-end with a DOUBLE boundary (plan guard pins all
    of it).
    """
    d = T.load(spark, sf_dir, "documents")
    return _gram_report(quality_train_partials(d))


# ---------------------------------------------------------------------------
# Accumulate-then-finalize: sufficient statistics are distributive, so the
# per-batch partial IS the same 28-scalar aggregate (kept exact-decimal,
# no boundary cast); finalize merges by cell. The registered query is the
# DOUBLE boundary over the partials of the whole corpus; it skips only
# finalize's re-sum (one partial row per cell), which measured slower.
# ---------------------------------------------------------------------------


def quality_train_partials(docs: DataFrame) -> DataFrame:
    """Per-batch sufficient statistics in long form, sums still exact
    DECIMAL (the boundary double cast happens only at finalize, so batch
    splits can never introduce rounding the one-shot path lacks)."""
    return _gram_cells(
        quality_train_design(quality_features(docs, carry=("lang",)).drop("doc_id"))
    )


def quality_train_finalize(partials: DataFrame) -> DataFrame:
    """Merge accumulated per-batch partials into the output: integer-exact
    decimal sums merge associatively, then the DOUBLE boundary cast."""
    return _gram_report(
        partials.groupBy("row_feat", "col_feat").agg(
            F.sum("sum_prod_dec").alias("sum_prod_dec"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
    )


def _gram_report(cells: DataFrame) -> DataFrame:
    """The DOUBLE boundary of the 27 exact-decimal cells."""
    return cells.select(
        "row_feat",
        "col_feat",
        F.col("sum_prod_dec").cast("double").alias("sum_prod"),
        "n_rows",
    )
