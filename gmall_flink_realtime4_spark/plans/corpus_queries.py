"""Training-corpus assembly: filtering, sampling, mixing, packing, splits.

The ops a 100 TB pretraining-data pipeline runs between "raw corpus" and
"token stream": end-to-end corpus preparation and the final filtered
corpus, eval-set decontamination, stratified / temperature-mixed /
per-domain-capped / PPS / reservoir sampling, sequence packing for
context-window fill, deterministic train/val/test splits and a
length-decile curriculum.

Sampling ranks on the md5-hex value of ``operators.hashing`` (the shared
random oracle); decontamination and the final corpus reuse
``operators.minhash`` shingles. Skewed selections (domain cap, reservoir)
run as salted partial top-K -> final top-K so one hot key never
single-threads a reducer.

Determinism contract is the catalog's: md5 as the shared random oracle,
exact integer arithmetic at every boundary, identical aliases both sides.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.hashing import KMV_M, hexval_sql
from ..operators.minhash import shingle_sql, shingles
from ..operators.stopwords import STOP_SQL
from .catalog import query


@query(
    "llm_corpus_prepare",
    oracle=f"""
WITH feat AS (
    SELECT doc_id, source, text,
           len(string_split(text, ' ')) AS n_tokens,
           length(text)                 AS n_chars,
           md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS fp,
           (1000 * len(list_filter(string_split(text, ' '), x -> x IN {STOP_SQL})))
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


# ---------------------------------------------------------------------------
# Stratified (per-language) corpus sampling — deterministic domain mixing.
# ---------------------------------------------------------------------------
# per-mille keep rates per language; the "domain mixing weights" of a
# pretraining recipe. Unlisted languages fall back to 100 per-mille.
SAMPLE_RATES_PM = {"en": 500, "zh": 800, "de": 300, "fr": 250, "es": 250}
_RATE_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES_PM.items())
    + " ELSE 100 END"
)


@query(
    "llm_sample_stratified",
    oracle=f"""
WITH h AS (
    SELECT source, lang, text,
           {hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} AS u,
           {_RATE_CASE} AS rate_pm
    FROM documents
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u * 1000 < rate_pm * {KMV_M} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN u * 1000 < rate_pm * {KMV_M}
                              THEN len(string_split(text, ' ')) END), 0)
            AS BIGINT) AS kept_tokens,
       CAST((1000 * SUM(CASE WHEN u * 1000 < rate_pm * {KMV_M}
                             THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS realized_pm
FROM h GROUP BY 1, 2
""",
    tags=("llm-text", "sampling"),
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (domain-mixing weights).

    Keep decision = pure function of doc_id: u = value of the first 12 hex
    chars of md5(doc_id), kept iff u * 1000 < rate_permille * 16^12 — exact
    integer compare, no float, no RNG state, so the sample is reproducible
    across engines, retries, and re-partitioning (the property a training
    recipe needs for auditability). Map-only decision + one (source, lang)
    agg shuffle; at 100 TB the rate table would arrive as a broadcast
    config instead of a literal CASE.
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    h = d.select(
        "source",
        "lang",
        "text",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
        F.expr(_RATE_CASE).alias("rate_pm"),
    ).withColumn("u", F.expr(hexval_sql("hx", "instr")))
    kept = F.col("u") * 1000 < F.col("rate_pm") * F.lit(KMV_M)
    return h.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.size(F.split("text", " ")))), F.lit(0)
        )
        .cast("bigint")
        .alias("kept_tokens"),
        F.expr(
            "cast((1000 * sum(case when u * 1000 < rate_pm * "
            f"{KMV_M} then 1 else 0 end)) div count(1) as bigint)"
        ).alias("realized_pm"),
    )


# ---------------------------------------------------------------------------
# Sequence packing — concat-and-chunk context-window assignment.
# ---------------------------------------------------------------------------
SEQ_LEN = 256  # tokens per packed sequence
PACK_BUCKET = 32  # doc_ids per prefix-sum bucket (scale knob)


@query(
    "llm_pack_sequences",
    oracle=f"""
WITH t AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
), c AS (
    SELECT doc_id, n_tok,
           COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum_ex
    FROM t
)
SELECT CAST(cum_ex // {SEQ_LEN} AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c GROUP BY 1
""",
    tags=("llm-text", "packing"),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each doc to the
    SEQ_LEN-token context window where its first token lands (GPT-style
    pretraining packing; the straddling doc belongs to the chunk it starts
    in — the token-level split is the trivial last step).

    The interesting part is the DISTRIBUTED PREFIX SUM: a naive
    ``SUM() OVER (ORDER BY doc_id)`` is a single-task total order — the
    classic 100 TB anti-pattern. Instead: (1) bucket docs by
    ``doc_id div {PACK_BUCKET}`` and aggregate per-bucket token totals (one
    small shuffle); (2) cumulate the bucket totals — a frame that is
    rows/{PACK_BUCKET} and shrinks with the bucket knob, the only ordered
    step; (3) join the bucket offset back and window WITHIN each bucket
    (parallel across buckets). Identical output to the oracle's plain
    window, but stage 3's parallelism is #buckets, not 1.
    """
    t = T.load(spark, sf_dir, "documents", spread=False).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    b = t.withColumn("bkt", F.expr(f"doc_id div {PACK_BUCKET}"))
    bt = b.groupBy("bkt").agg(F.sum("n_tok").alias("bt_tok"))
    wb = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = bt.withColumn(
        "off", F.coalesce(F.sum("bt_tok").over(wb), F.lit(0))
    ).select("bkt", "off")
    ww = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Join left FREE on purpose — a shuffle_hash pin was tried and retired
    # here (r10, measured): at x10-x100 AQE broadcasts the CORPUS
    # projection (24 B/doc — BuildLeft, probed by the one-partition offset
    # frame), which looks like the chunk_dedup hazard but is
    # THRESHOLD-BOUNDED by construction: the build side is actual-bytes
    # ≤64 MB or the promotion never happens, so the single-task probe
    # stage can only ever see threshold-bounded build + matched output,
    # and past ~2.5M docs size-truth demotes to a parallel SHJ on bkt
    # (uniform keys — no skew hazard). The pin bought nothing anywhere
    # (sf0.1/x100 even) and taxed x10 ~0-20% (alternated isopairs, 2
    # rounds) by forcing the corpus hash exchange below the join where
    # the broadcast plan defers it to the window. Opposite adjudication
    # from llm_chunk_dedup, whose broadcast frame was text-wide and
    # fact-fact-skewed: self-demotion is proven per query, not assumed —
    # here it was proven SAFE.
    c = b.join(off, "bkt").withColumn(
        "cum_ex", F.col("off") + F.coalesce(F.sum("n_tok").over(ww), F.lit(0))
    )
    return c.groupBy(
        F.expr(f"cast(cum_ex div {SEQ_LEN} as bigint)").alias("chunk_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("chunk_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination — n-gram overlap against a benchmark corpus.
# ---------------------------------------------------------------------------
DECON_EVAL_MOD = 97  # doc_id % MOD == 0 plays the held-out benchmark set
DECON_MIN_SHARED = 5  # shared distinct 3-grams to flag contamination


@query(
    "llm_decontaminate",
    oracle=f"""
WITH {shingle_sql()}, ev AS (
    SELECT doc_id AS eval_id, shingle FROM sh
    WHERE doc_id % {DECON_EVAL_MOD} = 0
), tr AS (
    SELECT doc_id, shingle FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0
)
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
       CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_partners,
       CAST(COUNT(DISTINCT tr.shingle) >= {DECON_MIN_SHARED} AS INT)
           AS contaminated
FROM tr JOIN ev ON tr.shingle = ev.shingle
GROUP BY 1
""",
    tags=("llm-text", "decontamination"),
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ K distinct
    word 3-grams with any held-out eval doc (doc_id % {mod} == 0 plays the
    benchmark set).

    Scale shape: eval shingles are the SMALL side (the benchmark corpus is
    MBs while training data is TBs) — broadcast it, so the contamination
    check is a map-side join over the training shingle stream, no shuffle
    of the big side. Distinct-per-doc bounds stop-shingle skew exactly as
    in llm_dedup_ngram_jaccard.
    """
    sh = shingles(T.load(spark, sf_dir, "documents"))
    ev = (
        sh.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), "shingle")
    )
    tr = sh.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_partners"),
            (F.countDistinct("shingle") >= DECON_MIN_SHARED)
            .cast("int")
            .alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# The full corpus-assembly DAG in one plan: quality gates -> exact dedup ->
# eval decontamination -> stratified mixing -> per-language token budget.
# ---------------------------------------------------------------------------
@query(
    "llm_corpus_final",
    oracle=f"""
WITH feat AS (
    SELECT doc_id, lang, text,
           len(string_split(text, ' ')) AS n_tokens,
           length(text)                 AS n_chars,
           md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS fp,
           (1000 * len(list_filter(string_split(text, ' '),
                                   x -> x IN ('the', 'a', 'of', 'to', 'and'))))
               // greatest(len(string_split(text, ' ')), 1) AS stop_pm
    FROM documents
), kept AS (
    SELECT * FROM feat
    WHERE n_tokens >= 5 AND n_chars >= 30 AND stop_pm <= 500
), keepers AS (
    SELECT fp, MIN(doc_id) AS keeper_doc_id FROM kept GROUP BY 1
), deduped AS (
    SELECT k.* FROM kept k JOIN keepers p ON k.doc_id = p.keeper_doc_id
), {shingle_sql()}, contaminated AS (
    SELECT tr.doc_id
    FROM (SELECT doc_id, shingle FROM sh
          WHERE doc_id % {DECON_EVAL_MOD} <> 0) tr
    JOIN (SELECT shingle FROM sh
          WHERE doc_id % {DECON_EVAL_MOD} = 0) ev ON tr.shingle = ev.shingle
    GROUP BY 1 HAVING COUNT(DISTINCT tr.shingle) >= {DECON_MIN_SHARED}
), clean AS (
    SELECT d.* FROM deduped d
    WHERE d.doc_id % {DECON_EVAL_MOD} <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
), sampled AS (
    SELECT lang, n_tokens FROM clean
    WHERE ({hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")}) * 1000
          < ({_RATE_CASE}) * {KMV_M}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM sampled GROUP BY 1
""",
    tags=("llm-text", "pipeline"),
)
def llm_corpus_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus assembly DAG as ONE Catalyst plan:
    quality gates (length/chars/stopword) -> exact fingerprint dedup
    (keeper = min doc_id) -> eval-set removal + n-gram decontamination ->
    deterministic stratified mixing -> per-language token budget.

    Composition is the point: each stage is the already-gated operator
    (llm_corpus_prepare's filter+dedup, llm_decontaminate's overlap set,
    llm_sample_stratified's hash mix) fused into a single DAG — the text
    column is projected away at the scan (everything downstream needs only
    the fingerprint and counts, so no shuffle ever carries document
    bytes), the two fan-out frames (quality-filtered features, shingles)
    are checkpointed so the corpus is scanned once per derivation instead
    of once per consumer, and contaminated ids arrive as a broadcast
    anti-join. The shape a nightly 100 TB corpus build actually ships.
    """
    d = T.load(spark, sf_dir, "documents")
    # two consumers each: keeper agg + semi-join probe / eval set + probes.
    # LAZY checkpoints (r13): each materializes inside its first consumer
    # stage instead of paying a dedicated build job + barrier before the
    # timed action even starts; blocks are still written once (interleaved
    # A/B: med 2.87 -> 2.54 s sf0.1, best 5.27 -> 4.53 s x30 — no
    # double-compute, the decon legs are sequential stage submissions).
    kept = corpus_final_feat_partials(d).localCheckpoint(eager=False)
    sh = corpus_final_shingle_partials(d).localCheckpoint(eager=False)
    return corpus_final_finalize(kept, sh)


def corpus_final_feat_partials(d: DataFrame) -> DataFrame:
    """Per-batch quality-gated candidate state for the corpus-final DAG:
    the skinny feature rows (doc_id, lang, counts, fp, stop_pm — text
    projected away) that SURVIVE the quality gates. Pure per-row map +
    filter, so per-batch outputs union-merge losslessly; everything that
    crosses batches (the min-doc_id keeper, contamination, mixing) is
    deferred to ``corpus_final_finalize``."""
    toks = F.split("text", " ")
    feat = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5(F.trim(F.regexp_replace(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), "[ \\t\\n\\f\\r]+", " "))).alias("fp"),
        F.expr(
            "(1000 * size(filter(split(text, ' '),"
            " x -> x IN ('the','a','of','to','and'))))"
            " div greatest(size(split(text, ' ')), 1)"
        ).alias("stop_pm"),
    )
    return feat.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_chars") >= 30)
        & (F.col("stop_pm") <= 500)
    )


def corpus_final_shingle_partials(d: DataFrame) -> DataFrame:
    """Per-batch (doc_id, shingle) membership state. Shingles are
    within-document (a document lives wholly in one batch), so per-batch
    frames union-merge exactly; contamination PAIRS are cross-batch (a
    training doc may share shingles with an eval doc from a different
    batch) and therefore computed only at finalize — the same membership
    discipline as the lsh tuning-curve twin (``lsh_curve_finalize``)."""
    return shingles(d).drop("n_sh")


def corpus_final_finalize(kept: DataFrame, sh: DataFrame) -> DataFrame:
    """Everything after the per-row stages, over MERGED state: exact
    fingerprint dedup (min-doc_id keeper — a later batch can win, so the
    keeper is never resolved per batch), eval-overlap decontamination,
    deterministic hash mixing, per-language token budget."""
    keepers = kept.groupBy("fp").agg(F.min("doc_id").alias("keeper_doc_id"))
    deduped = kept.join(
        keepers, kept.doc_id == keepers.keeper_doc_id, "left_semi"
    )
    ev = sh.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select("shingle")
    contaminated = (
        sh.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("ns"))
        .filter(F.col("ns") >= DECON_MIN_SHARED)
        .select("doc_id")
    )
    clean = deduped.filter(F.col("doc_id") % DECON_EVAL_MOD != 0).join(
        F.broadcast(contaminated), "doc_id", "left_anti"
    )
    sampled = clean.withColumn(
        "hx", F.md5(F.col("doc_id").cast("string"))
    ).filter(
        F.expr(hexval_sql("hx", "instr")) * 1000
        < F.expr(_RATE_CASE) * F.lit(KMV_M)
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
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
           {hexval_sql("md5(CAST(doc_id AS VARCHAR) || ':split')", "strpos")} AS u
    FROM documents
), s AS (
    SELECT lang, text,
           CASE WHEN u * 1000 < {SPLIT_TRAIN_PM} * {KMV_M} THEN 'train'
                WHEN u * 1000 < {SPLIT_VAL_PM} * {KMV_M} THEN 'val'
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
    ).withColumn("u", F.expr(hexval_sql("hx", "instr")))
    split = (
        F.when(F.col("u") * 1000 < SPLIT_TRAIN_PM * F.lit(KMV_M), "train")
        .when(F.col("u") * 1000 < SPLIT_VAL_PM * F.lit(KMV_M), "val")
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
# llm_mix_domains — data-mixture balancing (the Pile / Dolma-style source
# weighting). Target share per source ~ n_docs^alpha with alpha=0.5
# (temperature sampling: upweights small sources, caps dominant ones), then a
# deterministic md5-hash Bernoulli sample realizes the mixture in ONE
# map-only pass — no RNG state, reproducible across retries/partitionings.
#
# Scale: counts agg is map-combined on `source` (bounded cardinality); the
# per-source rate table is a handful of rows broadcast to the sampling scan.
# Two scans of the corpus total (count pass + sample pass) — the count pass
# is column-pruned to `source` only. Integer weights (floor(sqrt(n)*1e6))
# keep the rate computation exact on both engines; at >1e18 doc-budgets the
# budget*weight product needs a DECIMAL upgrade (documented, not needed at
# any realistic corpus size: 1e12 docs x 1e9 weight fits in DECIMAL(38,0)).
# ---------------------------------------------------------------------------
_MIX_HV = hexval_sql("hx", "instr")
_MIX_HV_ORA = hexval_sql("md5(CAST(doc_id AS VARCHAR) || ':mix')", "strpos")


@query(
    "llm_mix_domains",
    oracle=f"""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
), wts AS (
    SELECT source, n_docs,
           CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
    FROM counts
), tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
           CAST(SUM(w) AS BIGINT)      AS sum_w
    FROM wts
), rates AS (
    SELECT w.source, w.n_docs,
           LEAST(1000, (1000 * (((t.total_docs // 2) * w.w) // t.sum_w))
                       // w.n_docs) AS rate_permille
    FROM wts w CROSS JOIN tot t
), kept AS (
    SELECT d.source, d.n_chars
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ({_MIX_HV_ORA}) % 1000 < r.rate_permille
)
SELECT r.source, r.n_docs, CAST(r.rate_permille AS BIGINT) AS rate_permille,
       CAST(COALESCE(k.n_sampled, 0) AS BIGINT)      AS n_sampled,
       CAST(COALESCE(k.sampled_chars, 0) AS BIGINT)  AS sampled_chars
FROM rates r
LEFT JOIN (
    SELECT source, COUNT(*) AS n_sampled, SUM(n_chars) AS sampled_chars
    FROM kept GROUP BY 1
) k ON r.source = k.source
""",
    tags=("llm-corpus",),
)
def llm_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled (alpha=0.5) source-mixture realization.

    Per-source target share ~ sqrt(n_docs), normalized against a corpus
    budget of total_docs/2; acceptance realized by a deterministic
    md5(doc_id||':mix') per-mille threshold (independent uniform from the
    ':split'/':sample' salts used by the sibling queries). counts are
    localCheckpoint'ed so the tiny rate table doesn't re-derive the count
    scan per consumer.
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    counts = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint()  # a handful of rows; stops re-scan per consumer
    )
    wts = counts.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1000000.0)).cast(
            "bigint"
        ),
    )
    tot = wts.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("w").cast("bigint").alias("sum_w"),
    )
    rates = (
        wts.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_permille",
            F.least(
                F.lit(1000),
                F.expr("(1000 * (((total_docs div 2) * w) div sum_w)) div n_docs"),
            ),
        )
        .select("source", "n_docs", F.col("rate_permille").cast("bigint"))
    )
    kept = (
        d.withColumn(
            "hx", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
        )
        .join(F.broadcast(rates), "source")
        .filter(F.expr(_MIX_HV) % 1000 < F.col("rate_permille"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "rate_permille",
        F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
        F.coalesce("sampled_chars", F.lit(0)).cast("bigint").alias("sampled_chars"),
    )


# ---------------------------------------------------------------------------
# llm_sample_domain_cap — "at most K docs per domain", skew-resistant.
#
# The pick is a pure function of the data (smallest 48-bit md5(doc_id)
# prefix wins, doc_id breaks ties), so the sample is reproducible across
# engines, retries and repartitioning. The two-phase shape is the scale
# point: phase 1 ranks within (domain, salt) — a hot domain's rows are
# split across NSALT reducers, each keeping at most CAP — so phase 2 ranks
# at most NSALT*CAP survivors per domain (constant, broadcast-sized).
# Global-top-K-per-domain == top-K of per-salt top-Ks exactly (any final
# winner is also a winner within its salt bucket), pinned by
# tests/test_round6_ext.py against the one-window form.
# ---------------------------------------------------------------------------
DOMAIN_CAP = 10  # keep at most this many docs per source
CAP_NSALT = 16  # phase-1 fanout (4096+ on a real cluster)


@query(
    "llm_sample_domain_cap",
    oracle=f"""
WITH h AS (
    SELECT source, doc_id,
           {hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} AS u
    FROM documents
), r AS (
    SELECT source, doc_id, u,
           row_number() OVER (PARTITION BY source
                              ORDER BY u, doc_id) AS pick_rank
    FROM h
)
SELECT source, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, u
FROM r WHERE pick_rank <= {DOMAIN_CAP}
""",
    tags=("llm-text", "sampling"),
)
def llm_sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the C4/Common-Crawl anti-spam policy):
    keep the CAP docs with the smallest deterministic hash per source.

    Oracle is the textbook single window; the Spark plan is the two-phase
    salted top-K that survives a billion-page domain. Phase-1 output is
    bounded (NSALT*CAP rows per domain) so the final window's partitions
    are constant-size no matter how skewed the input."""
    d = T.load(spark, sf_dir, "documents", spread=False).select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    )
    h = d.withColumn("u", F.expr(hexval_sql("hx", "instr"))).drop("hx")
    phase1 = Window.partitionBy(
        "source", F.col("doc_id") % CAP_NSALT
    ).orderBy("u", "doc_id")
    cand = (
        h.withColumn("rn1", F.row_number().over(phase1))
        .filter(F.col("rn1") <= DOMAIN_CAP)
        .drop("rn1")
    )
    phase2 = Window.partitionBy("source").orderBy("u", "doc_id")
    return (
        cand.withColumn(
            "pick_rank", F.row_number().over(phase2).cast("bigint")
        )
        .filter(F.col("pick_rank") <= DOMAIN_CAP)
        .select("source", "pick_rank", "doc_id", "u")
    )


# ---------------------------------------------------------------------------
# llm_sample_pps — EXACT systematic probability-proportional-to-size
# sampling: pick PPS_N selection points p_k = offset + k*stride over the
# cumulative weight line (stride = W div N, offset = stride div 2) and
# select every doc whose weight interval contains a point — docs heavier
# than one stride are selected MULTIPLE times (n_hits > 1), exactly as
# PPS-with-replacement prescribes. The quality/size-weighted subsampler
# a curation pipeline uses when uniform sampling under-represents long
# documents. Deterministic (no RNG: the offset is pinned mid-stride), so
# both engines select the identical multiset — and sum(n_hits) == N is a
# structural identity the test asserts.
#
# The cumulative weights come from the SAME distributed two-phase prefix
# sum as llm_pack_sequences (bucket totals -> tiny ordered offsets frame
# -> parallel within-bucket windows) — never a single-task global
# ORDER BY. Division-sign discipline: cum - offset can be negative for
# the first docs and Spark's div TRUNCATES while DuckDB's // FLOORS, so
# every division is guarded to non-negative operands by CASE branches.
# ---------------------------------------------------------------------------
PPS_N = 50  # selection points (sample size, with replacement)
PPS_BUCKET = 1024  # prefix-sum bucket width (parallelism knob)

_PPS_KLO = (
    "CASE WHEN cum_ex <= off_pt THEN CAST(0 AS BIGINT)"
    " ELSE (cum_ex - off_pt + stride - 1) {d} stride END"
)
_PPS_KHI = (
    f"least((cum_hi - 1 - off_pt) {{d}} stride, CAST({PPS_N - 1} AS BIGINT))"
)


@query(
    "llm_sample_pps",
    oracle=f"""
WITH t AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
), c AS (
    SELECT doc_id, w,
           CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_ex
    FROM t
), g AS (
    SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM t
), p AS (
    SELECT c.doc_id, c.w, c.cum_ex, c.cum_ex + c.w AS cum_hi,
           GREATEST(g.wtot // {PPS_N}, 1) AS stride,
           GREATEST(g.wtot // {PPS_N}, 1) // 2 AS off_pt
    FROM c, g
), k AS (
    SELECT doc_id, w, cum_ex,
           {_PPS_KLO.format(d="//")} AS k_lo,
           CASE WHEN cum_hi <= off_pt THEN CAST(-1 AS BIGINT)
                ELSE {_PPS_KHI.format(d="//")} END AS k_hi
    FROM p
)
SELECT doc_id, w AS weight, CAST(cum_ex AS BIGINT) AS cum_lo,
       CAST(k_lo AS BIGINT) AS k_first,
       CAST(k_hi - k_lo + 1 AS BIGINT) AS n_hits
FROM k WHERE k_hi >= k_lo
""",
    tags=("llm-sampling",),
)
def llm_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact systematic PPS sample of documents weighted by n_chars:
    the selected docs with their weight, exclusive cumulative offset,
    first selection-point index, and hit count (heavy docs legitimately
    draw multiple hits). sum(n_hits) == {PPS_N} exactly, every run, both
    engines — the systematic-sampling identity the test asserts.

    Scale shape: the cumulative weight line is the llm_pack_sequences
    distributed prefix sum (per-bucket totals -> rows/{PPS_BUCKET}
    ordered offsets -> parallel within-bucket cumsum windows); W and the
    derived stride/offset are one broadcast row. Selection is then pure
    map-side interval arithmetic — no join against the point set, which
    never materializes at all."""
    t = T.load(spark, sf_dir, "documents", spread=False).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    b = t.withColumn("bkt", F.expr(f"doc_id div {PPS_BUCKET}"))
    bt = b.groupBy("bkt").agg(F.sum("w").alias("bt_w"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.withColumn(
        "boff", F.coalesce(F.sum("bt_w").over(wb), F.lit(0))
    ).select("bkt", "boff")
    ww = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        b.join(F.broadcast(off), "bkt")
        .withColumn(
            "cum_ex",
            (
                F.col("boff") + F.coalesce(F.sum("w").over(ww), F.lit(0))
            ).cast("bigint"),
        )
        .withColumn("cum_hi", F.col("cum_ex") + F.col("w"))
    )
    # stride >= 1 guard (r6 ADVICE): on a degenerate corpus with
    # wtot < PPS_N the raw division is 0, where DuckDB's `// 0` raises
    # while Spark's `div 0` yields NULL — greatest(_, 1) pins the two
    # engines to the same (still deterministic) answer instead.
    g = t.select(F.sum("w").cast("bigint").alias("wtot")).select(
        F.expr(f"greatest(wtot div {PPS_N}, CAST(1 AS BIGINT))").alias(
            "stride"
        ),
        F.expr(
            f"greatest(wtot div {PPS_N}, CAST(1 AS BIGINT)) div 2"
        ).alias("off_pt"),
    )
    k = c.crossJoin(F.broadcast(g)).select(
        "doc_id",
        "w",
        "cum_ex",
        F.expr(_PPS_KLO.format(d="div")).alias("k_lo"),
        F.expr(
            "CASE WHEN cum_hi <= off_pt THEN CAST(-1 AS BIGINT)"
            f" ELSE {_PPS_KHI.format(d='div')} END"
        ).alias("k_hi"),
    )
    return k.filter(F.col("k_hi") >= F.col("k_lo")).select(
        "doc_id",
        F.col("w").alias("weight"),
        F.col("cum_ex").alias("cum_lo"),
        F.col("k_lo").alias("k_first"),
        (F.col("k_hi") - F.col("k_lo") + 1).cast("bigint").alias("n_hits"),
    )


# ---------------------------------------------------------------------------
# llm_sample_reservoir — deterministic uniform k-of-N sample.
#
# A reservoir sample's contract is "uniform k of N, one pass"; the
# deterministic equivalent is "top-k by a uniform hash of the key" —
# identical distribution over the md5 random oracle, but reproducible
# across engines, retries, and re-partitioning (sibling of
# llm_sample_stratified's keep-decision and llm_sample_pps's weighted
# points; this is the UNWEIGHTED corpus-level member of the family).
# ---------------------------------------------------------------------------
RES_K = 200
RES_SALT = 32


@query(
    "llm_sample_reservoir",
    oracle=f"""
WITH h AS (
    SELECT doc_id, source,
           {hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} AS u
    FROM documents
), r AS (
    SELECT doc_id, source, u,
           row_number() OVER (ORDER BY u, doc_id) AS rnk
    FROM h
)
SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, u, source
FROM r WHERE rnk <= {RES_K}
""",
    tags=("llm-text", "sampling"),
)
def llm_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 200-document (RES_K) corpus sample: rank every document by
    the 48-bit integer value of its md5(doc_id) prefix (tie-break doc_id
    — a total order) and keep the first 200.

    Scale shape: two-phase top-K — phase 1 keeps a per-salt (32-way,
    doc_id mod RES_SALT) top-200 so every partition-ish slice reduces
    independently; phase 2 ranks only the <= 32*200 survivors (bounded
    frame, the documented unpartitioned-Window exception). No global sort
    of the corpus ever runs — the oracle's single ORDER BY is the spec,
    and phase-1 pruning is exact because a global top-K row is
    necessarily in its own salt's top-K
    (test_reservoir_two_phase_equals_global pins it). Phase 1 is the
    streaming twin's partial and phase 2 its merge, so the query is
    ``reservoir_finalize(reservoir_partials(documents))``.
    """
    d = T.load(spark, sf_dir, "documents", spread=False)
    return reservoir_finalize(reservoir_partials(d))


# Accumulate-then-finalize: phase 1 is the mergeable partial, phase 2 the
# merge; union-of-batches == one-shot is pinned in tests/test_round7_ext.py.
def reservoir_partials(
    docs_batch: DataFrame, k: int = RES_K, salt: int = RES_SALT
) -> DataFrame:
    """Phase 1: the per-salt (doc_id mod ``salt``) top-k survivors
    (doc_id, source, u) by the md5 rank, so even a huge batch never
    funnels through one reducer. The distributed-reservoir merge
    property: a global top-k row is necessarily in its own salt's — and
    its own batch's — top-k, so survivors are a lossless state bounded
    at salt x k rows per batch."""
    h = docs_batch.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    ).withColumn("u", F.expr(hexval_sql("hx", "instr")))
    w1 = Window.partitionBy(F.expr(f"doc_id % {salt}")).orderBy("u", "doc_id")
    return (
        h.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .select("doc_id", "source", "u")
    )


def reservoir_finalize(parts: DataFrame, k: int = RES_K) -> DataFrame:
    """Phase 2: rank the unioned survivors (bounded by salt x k per
    batch — the documented unpartitioned-Window exception)."""
    w = Window.orderBy("u", "doc_id")
    return (
        parts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("rnk", "doc_id", "u", "source")
    )
