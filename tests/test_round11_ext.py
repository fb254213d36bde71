"""Round-11 soak tests (r10 verdict item 6): the mid-stream
checkpoint-restart protocol proven on llm_corpus_final in r10, extended
to the incremental twins with MULTI-FRAME or SUM-ALGEBRA state — the
incremental MinHash-LSH index (bands + docs state), the BM25 index
(tf + corpus-stats state), and the r11-new incremental PQ-codebook
trainer (Lloyd sufficient statistics). A restart mid-append is the
riskiest moment
for multi-frame state: a crash between the two state writes must heal on
replay (batch_id-keyed overwrite), and the union of emissions / the
finalize over accumulated state must equal the one-shot batch query
exactly after the restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_realtime4_spark import tables as T
from gmall_flink_realtime4_spark.plans.catalog import queries
from gmall_flink_realtime4_spark.streaming.runner import (
    empty_stream_dir,
    stream_parquet_source,
)

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _soak_with_restart(spark, tmp_path, docs, accumulate, key="doc_id"):
    """Drive ``accumulate(bdf, bid)`` through a REAL Structured Streaming
    source: 12 single-file micro-batches with a stop after the first 6
    and a checkpoint-recovery restart for the rest. Returns
    (pre_stop_batch, post_restart_batch)."""
    src = empty_stream_dir(str(tmp_path))
    ckpt = str(tmp_path / "ckpt")  # SHARED across restarts — the recovery

    def start():
        s = stream_parquet_source(spark, src, docs.schema)  # 1 file/trigger
        return (
            s.writeStream.foreachBatch(accumulate)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    half1 = docs.filter(F.col(key) % 2 == 0)
    half2 = docs.filter(F.col(key) % 2 == 1)
    half1.repartition(6).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
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
        assert q.lastProgress is not None, "restarted stream: no progress"
        post_restart_batch = q.lastProgress["batchId"]
    finally:
        q.stop()
        q.awaitTermination()
    # Resumed from the checkpoint: batch ids CONTINUE past the pre-stop
    # run — a fresh (non-recovered) query would re-number from 0.
    assert post_restart_batch > pre_stop_batch
    return pre_stop_batch, post_restart_batch


def test_incremental_minhash_soak_restart(spark, tmp_path):
    """12-batch soak of the incremental MinHash-LSH index with a
    mid-stream restart. The twin keeps TWO state tables (band keys +
    retained docs) written per batch — the multi-frame shape where a
    replay straddling the writes is most dangerous. After the restart:
    both state tables hold exactly one partition per doc-bearing batch
    and one row per doc (no replay double-append), and the union of all
    emitted pairs equals the one-shot batch query EXACTLY (every pair
    once, in its later doc's batch, with identical measures)."""
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_minhash_pairs,
    )

    cols = ["doc_a", "doc_b", "shared_bands", "inter_ct", "jaccard_permille"]
    expected = _rows(queries()["llm_dedup_minhash_lsh"](spark, SF), cols)

    docs = T.load(spark, SF, "documents")
    state = str(tmp_path / "mh_state")
    sink = str(tmp_path / "mh_pairs")

    def accumulate(bdf, bid):
        # pair sink mirrors the state discipline: batchId-keyed overwrite,
        # so a crash-replayed batch rewrites its own emissions
        incremental_minhash_pairs(spark, bdf, state, bid).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={bid}")

    _soak_with_restart(spark, tmp_path, docs, accumulate)

    # multi-frame state integrity: one doc row per corpus doc, and the
    # band state carries the same doc set (4 band rows per doc)
    docs_state = spark.read.parquet(f"{state}/docs").drop("batch_id")
    bands_state = spark.read.parquet(f"{state}/bands").drop("batch_id")
    n_docs = docs.count()
    assert docs_state.count() == n_docs
    assert docs_state.select("doc_id").distinct().count() == n_docs
    assert bands_state.select("doc_id").distinct().count() == n_docs
    assert bands_state.count() % n_docs == 0  # uniform bands/doc

    got = _rows(
        spark.read.parquet(sink).drop("batch_id").select(*cols), cols
    )
    # equality with the unique-pair batch set also proves each pair was
    # emitted exactly once across the 12 batches and the restart seam
    assert got == expected and expected


def test_incremental_bm25_soak_restart(spark, tmp_path):
    """12-batch soak of the BM25 index twin with a mid-stream restart.
    State is TWO frames per batch — inverted-index tf rows and the 1-row
    corpus-stats partial (n, a) — and finalize derives df from the tf
    rows, so a replay that double-appended EITHER frame would corrupt
    every score (df, idf, and the length norm all shift). After the
    restart, finalize over the accumulated state must equal the one-shot
    llm_bm25_topk exactly."""
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        bm25_finalize,
        bm25_index_partials,
    )

    batch_q = queries()["llm_bm25_topk"](spark, SF)
    cols = batch_q.columns
    expected = _rows(batch_q, cols)

    docs = T.load(spark, SF, "documents")
    tf_dir = str(tmp_path / "bm25_tf")
    st_dir = str(tmp_path / "bm25_stats")

    def accumulate(bdf, bid):
        tf, stats = bm25_index_partials(bdf)
        tf.write.mode("overwrite").parquet(f"{tf_dir}/batch_id={bid}")
        stats.write.mode("overwrite").parquet(f"{st_dir}/batch_id={bid}")

    _soak_with_restart(spark, tmp_path, docs, accumulate)

    tf_all = spark.read.parquet(tf_dir).drop("batch_id")
    stats_all = spark.read.parquet(st_dir).drop("batch_id")
    # stats partials: one 1-row partial per micro-batch, summing to the
    # corpus totals (a replay double-append would overshoot both)
    tot = stats_all.agg(
        F.sum("n").alias("n"), F.sum("a").alias("a")
    ).collect()[0]
    assert tot["n"] == docs.count()
    assert (
        tot["a"]
        == docs.select(
            F.sum(F.size(F.split("text", " "))).alias("a")
        ).collect()[0]["a"]
    )
    got = _rows(bm25_finalize(spark, tf_all, stats_all), cols)
    assert got == expected and expected


def test_incremental_pq_training_soak_restart(spark, tmp_path):
    """12-batch soak of the incremental PQ-codebook trainer with a
    mid-stream restart. State is the (m, cid, pos, s, n) sufficient-
    statistics table — a SUM-algebra, so a replay double-append would
    shift every centroid mean silently (no row-count smell like the pair
    twins have); the batchId-keyed overwrite is what makes the counts
    below exact. After the restart, finalize over the accumulated
    partials must equal the one-shot trained codebook
    (operators.pq.pq_trained_codebook_int over the full corpus) EXACTLY, and the
    merged member counts must sum to corpus_vectors x PQ_M x PQ_D."""
    from pyspark.sql import functions as FF

    from gmall_flink_realtime4_spark.operators.pq import (
        PQ_D,
        PQ_K,
        PQ_M,
        argmin_codes as _argmin_codes,
        pq_fullint as _pq_fullint,
        pq_subint as _pq_subint,
        pq_trained_codebook_int as _pq_trained_codebook_int,
    )
    from gmall_flink_realtime4_spark.streaming.incremental import (
        pq_train_finalize,
        pq_train_partials,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # the Lloyd step's input codebook is CONFIG (known upfront, broadcast
    # to every batch) — here the seed scheme over the static corpus
    subint = _pq_subint(_pq_fullint(emb))
    cb0 = subint.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("xint").alias("qarr")
    ).localCheckpoint(eager=True)
    expected = sorted(
        (r["m"], r["cid"], tuple(r["qarr"]))
        for r in _pq_trained_codebook_int(
            _argmin_codes(subint, cb0)
        ).collect()
    )

    st_dir = str(tmp_path / "pq_stats")

    def accumulate(bdf, bid):
        pq_train_partials(bdf, cb0).write.mode("overwrite").parquet(
            f"{st_dir}/batch_id={bid}"
        )

    _soak_with_restart(spark, tmp_path, emb, accumulate, key="vec_id")

    parts = spark.read.parquet(st_dir).drop("batch_id")
    # sum-algebra integrity: every (vector, subspace, position) counted
    # exactly once across the 12 batches and the restart seam
    tot = parts.agg(FF.sum("n").alias("n")).collect()[0]["n"]
    assert tot == emb.count() * PQ_M * PQ_D
    got = sorted(
        (r["m"], r["cid"], tuple(r["qarr"]))
        for r in pq_train_finalize(parts).collect()
    )
    assert got == expected and len(got) > 0


def test_pq_argmin_and_train_property_random_frames(spark):
    """Hypothesis property over the r11 int-space PQ core: the min-struct
    argmin (`operators.pq.argmin_codes`) and the floored-integer-mean
    trainer (`pq_trained_codebook_int`) must equal a brute-force python model on
    RANDOM subvector frames — including adversarial shapes the corpus
    never produces: exact-duplicate codewords (tie must break on cid),
    duplicate distances, single-member cells, and codewords that lose
    every vector (cell death). This pins the struct-ordering semantics
    the r11 rewrite leans on (d2 decimal first, cid tiebreak; the array
    payload after them must never decide the min)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from gmall_flink_realtime4_spark.operators.pq import (
        argmin_codes as _argmin_codes,
        pq_trained_codebook_int as _pq_trained_codebook_int,
    )

    D, K = 3, 4  # tiny subspaces/codebook: tie collisions become likely

    comp = st.integers(min_value=0, max_value=9)  # tiny domain -> ties
    vec = st.lists(comp, min_size=D, max_size=D)
    frames = st.lists(vec, min_size=K, max_size=12)

    @given(vecs=frames, m_count=st.integers(min_value=1, max_value=2))
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(vecs, m_count):
        rows = [
            (vid, m, v)
            for vid, v in enumerate(vecs)
            for m in range(m_count)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, m int, xint array<bigint>"
        )
        cb = df.filter(F.col("vec_id") < K).select(
            "m", F.col("vec_id").alias("cid"), F.col("xint").alias("qarr")
        )
        got_assign = {
            (r["vec_id"], r["m"]): r["cid"]
            for r in _argmin_codes(df, cb).collect()
        }
        exp_assign = {
            (vid, m): min(
                (sum((a - c) ** 2 for a, c in zip(v, vecs[cid])), cid)
                for cid in range(K)
            )[1]
            for vid, v in enumerate(vecs)
            for m in range(m_count)
        }
        assert got_assign == exp_assign
        got_cb = {
            (r["m"], r["cid"]): tuple(r["qarr"])
            for r in _pq_trained_codebook_int(
                _argmin_codes(df, cb)
            ).collect()
        }
        members: dict = {}
        for (vid, m), cid in exp_assign.items():
            members.setdefault((m, cid), []).append(vecs[vid])
        exp_cb = {
            (m, cid): tuple(
                sum(v[j] for v in mm) // len(mm) for j in range(D)
            )
            for (m, cid), mm in members.items()
        }
        assert got_cb == exp_cb

    run()


def test_incremental_ahash_soak_restart(spark, tmp_path):
    """12-batch soak of the incremental image-aHash index with a
    mid-stream restart. State is fingerprints only (no payload
    retention); after the restart the state holds exactly one row per
    image and the union of emitted pairs equals the one-shot
    llm_multimodal_image_neardup_pairs exactly across the restart seam
    (the codec runs once per image, in its arrival batch — a replay that
    re-decoded and double-appended would duplicate band keys and emitted
    pairs)."""
    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        _fixed_ppm_frame,
    )
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_ahash_pairs,
    )

    cols = ["doc_a", "doc_b", "hamming", "is_exact"]
    expected = _rows(
        queries()["llm_multimodal_image_neardup_pairs"](spark, SF), cols
    )
    imgs = _fixed_ppm_frame(spark, SF)
    state = str(tmp_path / "ah_state")
    sink = str(tmp_path / "ah_pairs")

    def accumulate(bdf, bid):
        incremental_ahash_pairs(spark, bdf, state, bid).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={bid}")

    _soak_with_restart(spark, tmp_path, imgs, accumulate)

    st = spark.read.parquet(f"{state}/fps").drop("batch_id")
    n_imgs = imgs.count()
    assert st.count() == n_imgs
    assert st.select("doc_id").distinct().count() == n_imgs
    got = _rows(
        spark.read.parquet(sink).drop("batch_id").select(*cols), cols
    )
    assert got == expected and expected


def test_incremental_winnow_soak_restart(spark, tmp_path):
    """12-batch soak of the incremental winnowing index with a
    mid-stream restart. State is (doc_id, f) fingerprint rows — the
    capless emission contract (the MOSS df cap is retroactive, so it is
    deliberately batch-side only); after the restart the union of
    emissions equals the one-shot CAPLESS run, which on this corpus also
    equals the registered capped query (max fingerprint df 9 << 64)."""
    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        winnow_fingerprint_rows,
        winnow_pairs,
        winnow_sizes,
    )
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_winnow_pairs,
    )

    cols = ["doc_a", "doc_b", "shared_fp", "n_fp_a", "n_fp_b", "overlap_pm"]
    d = T.load(spark, SF, "documents")
    fp = winnow_fingerprint_rows(d)
    expected = _rows(winnow_pairs(fp, winnow_sizes(fp)), cols)

    state = str(tmp_path / "wn_state")
    sink = str(tmp_path / "wn_pairs")

    def accumulate(bdf, bid):
        incremental_winnow_pairs(spark, bdf, state, bid).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={bid}")

    _soak_with_restart(spark, tmp_path, d, accumulate)

    got = _rows(
        spark.read.parquet(sink).drop("batch_id").select(*cols), cols
    )
    assert got == expected and expected
    capped = _rows(queries()["llm_winnow_fingerprints"](spark, SF), cols)
    assert got == capped  # cap never binds on this corpus


def test_pq_training_lifts_recall_on_clustered_corpus(spark, tmp_path):
    """The training-value claim, demonstrated: on a corpus WITH cluster
    structure (the repo's synthetic testdata is isotropic, where the
    measured curve honestly dips at step 2), Lloyd training must lift
    recall over a BAD seed, and IVF-PQ must beat BOTH flat variants —
    residual quantization preserves intra-cluster ranking that
    one-codeword-per-cluster flat PQ collapses to ties. Deterministic
    clustered vectors (16 well-separated centers + small LCG noise, 200
    vectors x 64 dims; the 16 SEED vectors drawn from only 4 clusters so
    the seed quantizer starts bad) are written as an embeddings table
    and the REGISTERED query runs on it unchanged. Measured (exact
    integer pipeline, deterministic data): seed 400, t1 500, t2 475,
    ivfpq 600 mean recall@5 pm."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.operators.pq import PQ_D, PQ_M
    from gmall_flink_realtime4_spark.plans.retrieval_queries import IVFPQ_C

    dim = PQ_M * PQ_D
    n, k = 200, IVFPQ_C

    def lcg(seed):
        s = seed & 0x7FFFFFFF
        while True:
            s = (1103515245 * s + 12345) % (1 << 31)
            yield s / float(1 << 31)

    # 16 well-separated centers on +/-2 sign patterns of the LCG; members
    # = center + noise in [-0.05, 0.05] (centers are ~4 apart per axis on
    # half the dims, noise two orders smaller -> unambiguous clusters)
    centers = []
    for c in range(k):
        g = lcg(7919 * (c + 1))
        centers.append([2.0 if next(g) < 0.5 else -2.0 for _ in range(dim)])
    rows = []
    for vid in range(n):
        # seed vectors (vid < 16) from only 4 clusters -> bad seed; the
        # rest cycle all 16 clusters
        c = (vid // 4) % 4 if vid < 16 else vid % k
        g = lcg(104729 * (vid + 1))
        rows.append(
            {
                "vec_id": vid,
                "embedding": [
                    x + (next(g) - 0.5) / 10.0 for x in centers[c]
                ],
                "label": c,
            }
        )
    sf_dir = str(tmp_path / "clustered")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(
            rows,
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        ),
        f"{sf_dir}/embeddings.parquet",
    )

    out = {
        r["qid"]: r
        for r in queries()["llm_ann_pq_adc_recall"](spark, sf_dir).collect()
    }
    mean = lambda col: sum(r[col] for r in out.values()) / len(out)  # noqa: E731
    seed, t1, t2, ivfpq = (
        mean("recall_seed_pm"),
        mean("recall_t1_pm"),
        mean("recall_t2_pm"),
        mean("recall_ivfpq_pm"),
    )
    # cluster structure is what training learns: trained must beat the
    # bad seed decisively; step 2 must not regress materially; IVF-PQ
    # must beat both flat variants (residuals preserve intra-cluster
    # ranking; the coverage ceiling costs little when cells = clusters)
    assert t1 >= seed + 50, (seed, t1)
    assert t2 >= t1 - 50, (t1, t2)
    assert ivfpq >= seed + 150, (seed, ivfpq)
    assert ivfpq >= t1 + 50, (t1, ivfpq)
    # the r12 nprobe operating curve: on clustered data recall must be
    # monotone in probe width (wider probes only ADD candidate cells;
    # a true neighbor outside the probed cells is unreachable at np=1,
    # reachable at np=4 — the coverage ceiling as a measured column)
    np1, np4 = mean("recall_ivfpq_np1_pm"), mean("recall_ivfpq_np4_pm")
    assert np1 <= ivfpq <= np4, (np1, ivfpq, np4)
