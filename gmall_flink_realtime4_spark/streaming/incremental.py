"""Streaming-incremental twins: the foreachBatch forms of the near-dup
queries (MinHash-LSH, image aHash, winnowing) and the accumulate/finalize
halves of the near-dup clusters and PQ training. The other
accumulate-then-finalize twins sit next to their queries in ``plans/``,
where each registered query runs its twin's ``*_partials``.

One candidate-and-verify path per near-dup family serves the batch query
and its twin: ``minhash_candidates``/``minhash_verify``
(`operators.minhash`), ``ahash_pairs`` (`plans.llm_multimodal`) and
``winnow_pairs`` (`plans.dedup_queries`). Each takes the new rows and,
from a twin, the state rows as ``old``; the pair join and its doc-id
orientation live once, in ``operators.joins.candidate_pairs``. A twin
does only its own work: fingerprint the batch, ``_read_state``, call the
family path, write its ``batch_id`` state partition.

Contract: doc ids are unique across micro-batches (a replay reuses its
batch id, so it does not count as a resend). The family paths rely on it
to emit each pair once without a ``distinct``; a doc id sent again under
a new batch id would also double its state rows and corrupt the sizes of
every later pair.

A production corpus grows continuously; re-running batch MinHash-LSH over
the whole corpus per ingest is O(corpus) every time. The incremental form
(``incremental_minhash_pairs``) is O(batch x collision-rate) per
micro-batch:

- STATE (parquet, one sub-directory per micro-batch id): the
  (doc_id, band, bucket) band-key table and the (doc_id, text) doc table
  of everything seen so far. Band keys are the tiny index (4 rows/doc);
  texts are retained because the exact verify needs shingles of BOTH pair
  sides — recomputed only for a batch's CANDIDATE docs (the doc state is
  semi-join-pruned by candidate ids before any tokenize/explode, so
  per-batch verify cost tracks collisions, not corpus size).
- PER BATCH: band keys of the batch docs pair within the batch and
  against the band state — every emitted pair has >= 1 batch side, so a
  pair is emitted in exactly one batch (the batch where its LATER doc
  arrives) and the union of all emissions equals the one-shot batch result
  (`tests/test_streaming.py::test_incremental_minhash_pairs_matches_batch`).
- RETRY SAFETY: state writes go to deterministic ``batch_id=<n>``
  sub-directories in overwrite mode, so a foreachBatch replay rewrites
  the identical bytes instead of appending duplicates (duplicated doc
  rows would silently corrupt every future pair's jaccard denominator);
  reads EXCLUDE the current batch id, so a replay that crashed between
  the two state writes heals on re-execution. Replayed batches re-emit
  the same pairs — dedup on (doc_a, doc_b) at the sink, exactly like the
  K3 MERGE sink. State existence is probed by attempting the read (never
  a driver-local os.path check — state may live on HDFS/S3).

At 100 TB the band-key state is the classic inverted index: shuffle-keyed
by (band, bucket) and bounded by 4 rows/doc; the per-batch join touches
only the buckets the batch lands in.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from ..operators.graph import connected_components
from ..operators.minhash import (
    minhash_bands,
    minhash_candidates,
    minhash_verify,
    shingles,
)
from ..operators.pq import (
    argmin_codes,
    pq_fullint,
    pq_lloyd_centroids,
    pq_lloyd_sums,
    pq_subint,
)
from ..plans.dedup_queries import (
    DUP_CLUSTER_THRESHOLD_PM,
    winnow_fingerprint_rows,
    winnow_pairs,
    winnow_sizes,
)
from ..plans.llm_multimodal import ahash_image, ahash_pairs


def _read_state(
    spark: SparkSession, path: str, exclude_batch_id: int
) -> DataFrame | None:
    """Read a batch_id-partitioned state table, excluding the (possibly
    half-written, replayed) current batch. Probe-by-read: works on any
    Hadoop-compatible filesystem, unlike a driver-local isdir check."""
    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        return None  # first batch: no state yet
    return df.filter(F.col("batch_id") != exclude_batch_id).drop("batch_id")


def incremental_minhash_pairs(
    spark: SparkSession,
    docs_batch: DataFrame,
    state_dir: str,
    batch_id: int = 0,
) -> DataFrame:
    """One micro-batch step: returns the VERIFIED near-dup pairs with at
    least one side in ``docs_batch`` (same columns as the batch query),
    then writes the batch's state under its ``batch_id`` partition.
    Pass foreachBatch's batch id for replay-safe state."""
    bands_path = f"{state_dir}/bands"
    docs_path = f"{state_dir}/docs"

    batch = docs_batch.select("doc_id", "text").localCheckpoint(eager=True)
    # minhash_bands checkpoints the signature frame internally; the band
    # explode above it is cheap, so no second materialization here
    bands_b = minhash_bands(shingles(batch))

    prev_bands = _read_state(spark, bands_path, batch_id)
    prev_docs = _read_state(spark, docs_path, batch_id)
    docs_all = batch if prev_docs is None else prev_docs.unionByName(batch)

    # verify BEFORE the state writes (docs_all lazily reads the state
    # parquet) and materialize the result for the same reason
    cand = minhash_candidates(bands_b, prev_bands)
    out = minhash_verify(cand, docs_all).localCheckpoint(eager=True)

    # deterministic per-batch locations, overwrite mode: a replay
    # rewrites identical bytes (idempotent), never double-appends
    bands_b.write.mode("overwrite").parquet(
        f"{bands_path}/batch_id={batch_id}"
    )
    batch.write.mode("overwrite").parquet(f"{docs_path}/batch_id={batch_id}")
    return out


def clusters_finalize(pairs_all: DataFrame) -> DataFrame:
    """Near-dup CLUSTERS from the accumulated pair state — the streaming
    finalize of `plans.dedup_queries.llm_dedup_clusters` (r12: the
    one dedup-family member that lacked an incremental twin).

    `incremental_minhash_pairs` already emits every verified pair exactly
    once (in its later doc's arrival batch), and pairs are EDGES — a
    union-mergeable sum-algebra: connected components is a function of
    the edge SET alone, so finalize = threshold-filter the merged
    emissions and run the identical CC operator the batch query runs.
    Cross-batch components come for free: a component whose edges arrived
    in different micro-batches (even straddling a restart) is connected
    in the merged edge set iff it is connected in the one-shot batch
    graph, because the edge sets are equal — equality pinned by
    tests/test_round12_ext.py::test_incremental_clusters_soak_restart
    through the 12-batch mid-stream-restart protocol.

    Accepts the pair emissions AS WRITTEN by the batch sink (duplicate
    edges from a crash-replayed batch are harmless: the operator
    symmetrizes + distincts internally, so CC is idempotent in replays
    — same reason the K3 MERGE sink tolerates re-emission)."""
    edges = pairs_all.filter(
        F.col("jaccard_permille") >= DUP_CLUSTER_THRESHOLD_PM
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cc = connected_components(edges)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


def incremental_ahash_pairs(
    spark: SparkSession,
    media_batch: DataFrame,
    state_dir: str,
    batch_id: int = 0,
) -> DataFrame:
    """Streaming-incremental IMAGE near-dup detection — the foreachBatch
    twin of `plans.llm_multimodal.llm_multimodal_image_neardup_pairs`.

    Simpler than the text twin because the verify needs only the 48-bit
    fingerprints: STATE is just (doc_id, ahash) — no payload retention at
    all (the codec runs once per image, in its arrival batch, and the raw
    bytes never re-enter the pipeline). Per batch: fingerprint the batch
    (map-only Arrow codec), then the batch query's ``ahash_pairs`` over
    (batch, state): 4x12-bit band candidates, xor/bit_count verify. Every
    emitted pair has >= 1 batch side, so each pair is emitted exactly once
    (in its LATER doc's batch) and the union of emissions equals the
    one-shot batch query. Same replay-safe batch_id-partitioned overwrite
    state as `incremental_minhash_pairs`.
    """

    fps_path = f"{state_dir}/fps"
    fp_b = (
        ahash_image(media_batch)
        .filter(F.col("ok"))
        .select("doc_id", "ahash")
        .localCheckpoint(eager=True)
    )
    prev = _read_state(spark, fps_path, batch_id)
    # materialize before the state write
    out = ahash_pairs(fp_b, prev).localCheckpoint(eager=True)
    fp_b.write.mode("overwrite").parquet(f"{fps_path}/batch_id={batch_id}")
    return out


def incremental_winnow_pairs(
    spark: SparkSession,
    docs_batch: DataFrame,
    state_dir: str,
    batch_id: int = 0,
) -> DataFrame:
    """Streaming-incremental winnowing near-dup candidates — the
    foreachBatch twin of `plans.dedup_queries.llm_winnow_fingerprints`.

    STATE is (doc_id, f) fingerprint rows — no payload retention
    (fingerprint selection runs once per doc in its arrival batch; text
    never re-enters the pipeline), and the (doc_id, n_fp) sizes derive
    from it. Per batch: the batch query's ``winnow_pairs`` over (batch,
    state), so every emitted pair has >= 1 batch side and is emitted
    exactly once, in its LATER doc's batch; shared_fp / n_fp_* /
    overlap_pm are fixed at that moment, so the union of emissions equals
    the one-shot CAPLESS batch run (``winnow_pairs(fp, winnow_sizes(fp))``
    without the batch query's df cap).

    The MOSS df cap is deliberately NOT applied here: the cap is
    retroactive — a fingerprint crossing ``WINNOW_MAX_DF`` as the corpus
    grows would RETRACT pairs it once supported, which an append-only
    emission stream cannot express (the A1 diff/retract pattern could; the
    honest streaming contract is capless emission + downstream re-filter).
    Same replay-safe batch_id-partitioned overwrite state as the minhash
    twin.
    """

    fps_path = f"{state_dir}/fps"
    fp_b = winnow_fingerprint_rows(
        docs_batch.select("doc_id", "text")
    ).localCheckpoint(eager=True)
    prev = _read_state(spark, fps_path, batch_id)
    fp_all = fp_b if prev is None else prev.unionByName(fp_b)
    # materialize before the state write
    out = winnow_pairs(fp_b, winnow_sizes(fp_all), prev).localCheckpoint(
        eager=True
    )
    fp_b.write.mode("overwrite").parquet(f"{fps_path}/batch_id={batch_id}")
    return out


def pq_train_partials(emb_batch: DataFrame, codebook: DataFrame) -> DataFrame:
    """One micro-batch's PQ-training contribution: the (m, cid, pos, s, n)
    Lloyd sums (``operators.pq.pq_lloyd_sums``) of the batch's vectors
    under their nearest-codeword assignment against the GIVEN (broadcast)
    codebook. The streaming accumulate side of
    `operators.pq.pq_trained_codebook_int`.

    The codebook is an INPUT, like bm25's query frame: a Lloyd step's
    assignment depends only on (vector, current codebook), so per-batch
    partials are independent and merge by per-(m, cid, pos) ADDITION —
    the centroid mean's numerator and denominator are both sum-algebras.
    One streaming pass accumulates one step's statistics; the NEXT step
    re-broadcasts the finalized codebook (multi-step training is
    multi-pass, honestly — the batch query does the same, one
    checkpointed broadcast per iteration)."""
    return pq_lloyd_sums(argmin_codes(pq_subint(pq_fullint(emb_batch)), codebook))


def pq_train_finalize(parts: DataFrame) -> DataFrame:
    """Merge accumulated training partials into the trained codebook
    (m, cid, qarr): fold s and n by SUM per (m, cid, pos), then the same
    centroid assembly the batch trainer runs
    (``operators.pq.pq_lloyd_centroids``). Equal to
    `pq_trained_codebook_int` over the concatenated corpus
    (tests/test_round11_ext.py::test_incremental_pq_training_soak_restart).
    """
    return pq_lloyd_centroids(
        parts.groupBy("m", "cid", "pos").agg(
            F.sum("s").alias("s"), F.sum("n").alias("n")
        )
    )
