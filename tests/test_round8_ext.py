"""Round-8 operator tests: python-model equivalence + structural
properties for the quality-classifier core (plan guards in
test_plans.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_realtime4_spark.plans.text_queries import (
    QUALITY_MODEL,
    quality_classify,
    quality_features,
    quality_model_frame,
)

SF = "/root/testdata/sf0.001"

_STOP = {"the", "a", "of", "to", "and"}


def _py_features(doc_id: int, text: str) -> dict:
    """Exact python model of quality_features: same split/translate
    semantics as Spark's split(text, ' ') / translate(text, '.!?', '')
    (consecutive spaces yield empty tokens; unmatched chars deleted)."""
    toks = text.split(" ")
    n = len(toks)
    nonspace = len(text.replace(" ", ""))
    sents = max(
        len(text) - len(text.translate(str.maketrans("", "", ".!?"))), 1
    )
    return {
        "doc_id": doc_id,
        "n_tokens": n,
        "mean_token_len_permille": (1000 * nonspace) // max(n, 1),
        "stopword_permille": (1000 * sum(1 for t in toks if t in _STOP))
        // max(n, 1),
        "distinct_token_permille": (1000 * len(set(toks))) // max(n, 1),
        "ari_c100": (471 * nonspace) // max(n, 1)
        + (50 * n) // sents
        - 2143,
    }


def _py_score(f: dict) -> tuple[int, int]:
    m = QUALITY_MODEL
    s = (
        m["bias_milli"]
        + m["w_stop"] * f["stopword_permille"]
        + m["w_dist"] * f["distinct_token_permille"]
        + m["w_mtl"] * f["mean_token_len_permille"]
        + m["w_ari"] * f["ari_c100"]
        + m["w_tok"] * min(f["n_tokens"], m["tok_cap"])
    )
    return s, 1 if s >= 0 else 0


EDGE_TEXTS = [
    "",  # split(' ') -> [''] on both engines: 1 empty token
    "the",  # single pure-stopword doc
    "the the the the the",  # stopword_permille = 1000, distinct = 200
    "a of to and the",  # all five stopwords once
    "x" * 400,  # one giant token: mtl = 400000, negative score
    "a  b",  # double space -> empty middle token
    "one two. three! four? five",  # real sentences drive ari
    "tok " * 600 + "tok",  # 601 tokens: exercises the tok_cap clamp
]


def test_quality_features_match_python_model(spark):
    """Spark feature block == exact python model on hand-built edge
    texts (empty, all-stopword, single-giant-token, double-space,
    punctuated, past-the-cap)."""
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in quality_features(df).collect()}
    for i, t in rows:
        assert got[i] == _py_features(i, t), (i, t[:40])


def test_quality_classifier_matches_python_model(spark):
    """End-to-end score + keep decision == python dot product on the
    edge texts AND on 100 real corpus documents."""
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = quality_model_frame(spark)
    got = {
        r["doc_id"]: (r["score_milli"], r["keep_flag"])
        for r in quality_classify(quality_features(df), model).collect()
    }
    for i, t in rows:
        assert got[i] == _py_score(_py_features(i, t)), (i, t[:40])

    from gmall_flink_realtime4_spark import tables as T

    # deterministic subset (limit after the loader's repartition would
    # pick a different 100 rows per action)
    real = T.load(spark, SF, "documents").filter(F.col("doc_id") < 100)
    texts = {r["doc_id"]: r["text"] for r in real.collect()}
    got = {
        r["doc_id"]: (r["score_milli"], r["keep_flag"])
        for r in quality_classify(
            quality_features(real), model
        ).collect()
    }
    assert len(got) == 100
    for did, text in texts.items():
        assert got[did] == _py_score(_py_features(did, text)), did


def test_quality_classifier_decision_boundary_exercised(spark):
    """The model must not be degenerate on the corpus: both classes
    occur, and flipping the score's sign flips exactly the boundary
    rows (keep_flag is a pure function of score_milli)."""
    from gmall_flink_realtime4_spark.plans.catalog import queries

    out = queries()["llm_quality_classifier"](spark, SF).collect()
    kept = sum(r["keep_flag"] for r in out)
    assert 0 < kept < len(out)
    for r in out:
        assert r["keep_flag"] == (1 if r["score_milli"] >= 0 else 0)


def test_quality_classifier_is_batch_distributive(spark):
    """Per-doc scoring is stateless and the model is constant within a
    run, so the streaming form IS the map itself: union of per-batch
    outputs == one-shot output row-for-row (safe inside any foreachBatch
    with no state at all — the readability discipline)."""
    from gmall_flink_realtime4_spark import tables as T

    d = T.load(spark, SF, "documents")
    model = quality_model_frame(spark)
    parts = None
    for bid in range(3):
        b = quality_classify(
            quality_features(d.filter(F.col("doc_id") % 3 == bid)), model
        )
        parts = b if parts is None else parts.unionByName(b)
    got = {tuple(r) for r in parts.collect()}
    ref = {
        tuple(r)
        for r in quality_classify(quality_features(d), model).collect()
    }
    assert got == ref and len(ref) > 100


def test_incremental_corpus_final_whole_dag(spark):
    """The WHOLE corpus-final DAG under accumulate-then-finalize: union
    of per-batch quality-gated candidate state + per-batch doc-shingle
    membership state, MERGEd through keeper/decontaminate/mix/budget at
    finalize, equals the one-shot registered query exactly. Batching is
    by doc_id % 3, and the test proves the split actually exercises the
    cross-batch semantics: at least one duplicate-fingerprint group and
    at least one (train, eval) contamination pair straddle batches (a
    per-batch keeper or per-batch contamination set would diverge)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        DECON_EVAL_MOD,
        corpus_final_feat_partials,
        corpus_final_finalize,
        corpus_final_shingle_partials,
    )

    d = T.load(spark, SF, "documents")
    kept_parts, sh_parts = None, None
    for bid in range(3):
        b = d.filter(F.col("doc_id") % 3 == bid)
        k = corpus_final_feat_partials(b)
        s = corpus_final_shingle_partials(b)
        kept_parts = k if kept_parts is None else kept_parts.unionByName(k)
        sh_parts = s if sh_parts is None else sh_parts.unionByName(s)

    got = {
        (r["lang"], r["n_docs"], r["total_tokens"])
        for r in corpus_final_finalize(kept_parts, sh_parts).collect()
    }
    ref = {
        (r["lang"], r["n_docs"], r["total_tokens"])
        for r in queries()["llm_corpus_final"](spark, SF).collect()
    }
    assert got == ref and len(ref) >= 2

    # The real sf0.001 corpus has NO duplicate fingerprint surviving the
    # quality gates, so the dedup stage is a no-op there — augment with
    # crafted rows that FORCE the cross-batch semantics: a duplicate
    # text in batches 1 and 2 (keeper = min id, resolvable only from
    # merged state) and a (train, eval) contamination pair in batches 0
    # and 2 sharing >= DECON_MIN_SHARED shingles (eval id % 97 == 0).
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    con = "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    crafted = spark.createDataFrame(
        [
            (10_001, dup, "en"),  # 10001 % 3 == 2, % 97 != 0 (train)
            (10_003, dup, "en"),  # 10003 % 3 == 1 — dup straddles batches
            (10_005, con, "fr"),  # 10005 % 3 == 0, train, contaminated
            (10_670, con, "fr"),  # 10670 % 3 == 2, % 97 == 0 — eval twin
        ],
        "doc_id long, text string, lang string",
    )
    d2 = d.select("doc_id", "text", "lang").unionByName(crafted)
    kp, sp = None, None
    for bid in range(3):
        b = d2.filter(F.col("doc_id") % 3 == bid)
        k, s = corpus_final_feat_partials(b), corpus_final_shingle_partials(b)
        kp = k if kp is None else kp.unionByName(k)
        sp = s if sp is None else sp.unionByName(s)
    got2 = {
        tuple(r)
        for r in corpus_final_finalize(kp, sp).collect()
    }
    ref2 = {
        tuple(r)
        for r in corpus_final_finalize(
            corpus_final_feat_partials(d2), corpus_final_shingle_partials(d2)
        ).collect()
    }
    assert got2 == ref2 and len(ref2) >= 2

    # prove the crafted rows actually exercise the stages:
    # (a) the dup fp group spans 2 batches and survives the gates
    fp_span = (
        corpus_final_feat_partials(d2)
        .groupBy("fp")
        .agg(F.countDistinct(F.col("doc_id") % 3).alias("nb"))
        .filter(F.col("nb") >= 2)
        .count()
    )
    assert fp_span >= 1, "no duplicate fingerprint straddles batches"
    # (b) the contaminated train doc's eval twin sits in a DIFFERENT
    # batch and shares >= DECON_MIN_SHARED distinct shingles
    sh2 = corpus_final_shingle_partials(d2)
    tr = sh2.filter(F.col("doc_id") % DECON_EVAL_MOD != 0).select(
        F.col("doc_id").alias("t_doc"), "shingle"
    )
    ev = sh2.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select(
        F.col("doc_id").alias("e_doc"), "shingle"
    )
    cross = (
        tr.join(ev, "shingle")
        .filter((F.col("t_doc") % 3) != (F.col("e_doc") % 3))
        .groupBy("t_doc", "e_doc")
        .count()
        .filter(F.col("count") >= 5)
        .count()
    )
    assert cross >= 1, "no cross-batch (train, eval) contamination pair"


def test_incremental_corpus_final_foreach_batch_e2e(spark, tmp_path):
    """The whole-DAG twin driven by a REAL Structured Streaming source:
    documents arrive in 3 micro-batches; each batch APPENDS its
    quality-gated candidate rows and its doc-shingle membership rows to
    two parquet state tables (pure per-row partials — nothing cross-batch
    is resolved in-flight); finalize reads the accumulated state and runs
    keeper/decontaminate/mix/budget once. Result must equal the one-shot
    registered query — the accumulate-then-finalize discipline end-to-end
    on the streaming engine, not just on sliced frames."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        corpus_final_feat_partials,
        corpus_final_finalize,
        corpus_final_shingle_partials,
    )
    from gmall_flink_realtime4_spark.streaming.runner import (
        run_foreach_batch,
        stream_from_dataframe,
        stream_parquet_source,
    )

    docs = T.load(spark, SF, "documents")
    kept_dir = str(tmp_path / "state_kept")
    sh_dir = str(tmp_path / "state_shingles")

    def accumulate(bdf, _bid):
        corpus_final_feat_partials(bdf).write.mode("append").parquet(kept_dir)
        corpus_final_shingle_partials(bdf).write.mode("append").parquet(
            sh_dir
        )

    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)  # 3 micro-batches
    run_foreach_batch(s, accumulate, output_mode="append")

    got = {
        tuple(r)
        for r in corpus_final_finalize(
            spark.read.parquet(kept_dir), spark.read.parquet(sh_dir)
        ).collect()
    }
    ref = {
        tuple(r)
        for r in queries()["llm_corpus_final"](spark, SF).collect()
    }
    assert got == ref and len(ref) >= 2


def test_incremental_corpus_final_soak_restart(spark, tmp_path):
    """Long-soak version of the whole-DAG twin (r9 verdict item 6):
    documents arrive over 12 micro-batches with a MID-STREAM STOP after
    the first 6 and a checkpoint-recovery restart for the rest. The
    restarted query must RESUME (batchId continues past the pre-stop
    batches, not restart at 0), the accumulated state tables must hold
    exactly one partial row per input row, and finalize over the soaked
    state must equal the one-shot registered query exactly.

    foreachBatch is at-least-once under CRASH recovery (a batch that
    fails between the parquet append and the commit-log write replays),
    so accumulate is IDEMPOTENT: each batch overwrites its own
    batchId-keyed partition dir — a replayed batch rewrites the same
    rows instead of doubling them (the standard foreachBatch recipe).
    This test's clean stop/restart proves no-replay across graceful
    recovery; the batchId keying is what extends the exactly-once
    EFFECT to crash replay."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        corpus_final_feat_partials,
        corpus_final_finalize,
        corpus_final_shingle_partials,
    )
    from gmall_flink_realtime4_spark.streaming.runner import (
        empty_stream_dir,
        stream_parquet_source,
    )

    docs = T.load(spark, SF, "documents")
    src = empty_stream_dir(str(tmp_path))
    kept_dir = str(tmp_path / "state_kept")
    sh_dir = str(tmp_path / "state_shingles")
    ckpt = str(tmp_path / "ckpt")  # SHARED across restarts — the recovery

    def accumulate(bdf, bid):
        # batchId-keyed OVERWRITE => a replayed committed batch rewrites
        # its own partition instead of double-appending (idempotence)
        corpus_final_feat_partials(bdf).write.mode("overwrite").parquet(
            f"{kept_dir}/batch_id={bid}"
        )
        corpus_final_shingle_partials(bdf).write.mode("overwrite").parquet(
            f"{sh_dir}/batch_id={bid}"
        )

    def start():
        s = stream_parquet_source(spark, src, docs.schema)  # 1 file/trigger
        return (
            s.writeStream.foreachBatch(accumulate)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    # Partials are pure per-row, so round-robin file order is fine; the
    # halves split on doc_id parity so both runs carry every domain/shape.
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    half1.repartition(6).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
        # lastProgress stays None until the first progress event — surface
        # a zero-batch run (e.g. invisible source files) as THIS assert,
        # not a TypeError on the subscript
        assert q.lastProgress is not None, "stream recorded no progress"
        pre_stop_batch = q.lastProgress["batchId"]
    finally:
        q.stop()
        q.awaitTermination()
    assert pre_stop_batch >= 5  # 6 files at maxFilesPerTrigger=1

    half2.repartition(6).write.mode("append").parquet(src)  # while down
    q = start()
    try:
        q.processAllAvailable()
        assert q.lastProgress is not None, "restarted stream recorded no progress"
        post_restart_batch = q.lastProgress["batchId"]
    finally:
        q.stop()
        q.awaitTermination()
    # Resumed from the checkpoint: batch ids CONTINUE past the pre-stop
    # run — a fresh (non-recovered) query would re-number from 0.
    assert post_restart_batch > pre_stop_batch

    # partition discovery surfaces the batch_id key as a column — drop it
    # so finalize sees the exact partial schema
    kept = spark.read.parquet(kept_dir).drop("batch_id")
    sh = spark.read.parquet(sh_dir).drop("batch_id")
    # Exactly-once state: one partial row per one-shot partial row —
    # a replayed committed batch would double these counts.
    assert kept.count() == corpus_final_feat_partials(docs).count()
    assert sh.count() == corpus_final_shingle_partials(docs).count()
    got = {tuple(r) for r in corpus_final_finalize(kept, sh).collect()}
    ref = {
        tuple(r)
        for r in queries()["llm_corpus_final"](spark, SF).collect()
    }
    assert got == ref and len(ref) >= 2


def test_quality_classifier_property_random_texts(spark):
    """Hypothesis property: the Spark feature/score block equals the
    exact python model on RANDOM texts over an adversarial alphabet —
    stopwords, punctuation-only tokens, empty tokens from doubled
    spaces, long garbage tokens — so agreement isn't an artifact of the
    synthetic corpus's clean shape."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(
        ["the", "a", "of", "to", "and", "x", "zz", "q3!", ".", "!?",
         "", "longgarbagetoken" * 3, "mid.dle"]
    )
    texts = st.lists(
        st.lists(token, min_size=0, max_size=40).map(" ".join),
        min_size=1,
        max_size=8,
    )

    model = quality_model_frame(spark)

    @given(texts=texts)
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["score_milli"], r["keep_flag"])
            for r in quality_classify(quality_features(df), model).collect()
        }
        for i, t in rows:
            assert got[i] == _py_score(_py_features(i, t)), (i, t[:60])

    run()
