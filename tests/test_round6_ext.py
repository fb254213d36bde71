"""Round-6 extension operators: perceptual image dedup (aHash),
skew-resistant per-domain cap sampling, z-order layout audit.

Correctness is the oracle gate's job (all three are parity-gated); these
pin the plan properties (codec materialized once, salted two-phase window,
single-shuffle audit) and the algebraic invariants (two-phase top-K ==
one-window top-K, aHash python-model equivalence, z-curve locality) a
refactor could silently lose.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark.plans.catalog import queries
from gmall_flink_realtime4_spark.plans.corpus_queries import (
    CAP_NSALT,
    DOMAIN_CAP,
)
from gmall_flink_realtime4_spark.plans.olap_queries import (
    ZB,
    ZB_BITS,
    _interleave_sql,
)

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# plan guards
# ---------------------------------------------------------------------------


def test_image_dedup_codec_materialized_once(spark):
    """The aHash fingerprint frame feeds the group agg AND the join-back;
    it must be localCheckpoint'ed so the mapInPandas codec runs ONCE — the
    final plan reads the checkpoint (ExistingRDD) and never rescans
    documents or re-enters Python."""
    plan = _plan(spark, "llm_multimodal_image_dedup")
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "MapInPandas" not in plan  # already ran, inside the checkpoint
    assert "CartesianProduct" not in plan


def test_domain_cap_two_windows_salted(spark):
    """The cap plan must be the two-phase form: two Window/row_number
    passes, the first partitioned by (source, salt) — not one global
    window per domain (the skew hazard the operator exists to avoid)."""
    plan = _plan(spark, "llm_sample_domain_cap")
    assert plan.count("Window") >= 2
    # phase-1 partition expression carries the doc_id % NSALT salt
    assert f"% {CAP_NSALT}" in plan or f"% cast({CAP_NSALT}" in plan.lower()


def test_zorder_audit_one_agg_shuffle(spark):
    """Scan -> generate (2 rows per input) -> one (layout, file_id) agg:
    no join, and the only exchanges are the input spread + the single
    aggregation shuffle."""
    plan = _plan(spark, "f_zorder_layout_audit")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Exchange") <= 2


# ---------------------------------------------------------------------------
# algebraic invariants
# ---------------------------------------------------------------------------


def test_domain_cap_two_phase_equals_one_window(spark):
    """Global top-K per domain == top-K of per-(domain, salt) top-Ks.
    Compare the registered two-phase plan against the textbook single
    window over the same deterministic rank key."""
    got = {
        (r["source"], r["pick_rank"], r["doc_id"])
        for r in queries()["llm_sample_domain_cap"](spark, SF).collect()
    }
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.operators.hashing import hexval_sql
    from pyspark.sql import Window

    d = (
        T.load(spark, SF, "documents")
        .select(
            "source",
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("hx"),
        )
        .withColumn("u", F.expr(hexval_sql("hx", "instr")))
    )
    w = Window.partitionBy("source").orderBy("u", "doc_id")
    ref = {
        (r["source"], r["pick_rank"], r["doc_id"])
        for r in d.withColumn(
            "pick_rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("pick_rank") <= DOMAIN_CAP)
        .select("source", "pick_rank", "doc_id")
        .collect()
    }
    assert got == ref and len(got) > 0


def test_image_dedup_ahash_python_model(spark):
    """Reproduce every fingerprint from scratch in Python (the container
    construction rule -> luma -> integer mean threshold -> bit pack) and
    require exact agreement with the Spark codec path."""
    rows = queries()["llm_multimodal_image_dedup"](spark, SF).collect()
    got = {r["doc_id"]: (r["ahash_hex"], r["n_ones"]) for r in rows}
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    model = {}
    for rec in t:
        if rec["doc_id"] % 3 != 0:
            continue
        plane = (rec["text"] + "x" * 144)[:144].encode()
        luma = [
            plane[3 * i] + plane[3 * i + 1] + plane[3 * i + 2]
            for i in range(48)
        ]
        total = sum(luma)
        bits = [1 if 48 * v >= total else 0 for v in luma]
        ah = 0
        for b in bits:
            ah = (ah << 1) | b
        model[rec["doc_id"]] = (format(ah, "012x"), sum(bits))
    assert got == model and len(model) > 0


def test_image_dedup_keeper_is_group_min(spark):
    """Dedup contract: keeper is the minimum doc_id of its hash group, and
    exactly group_size-1 members are flagged dup."""
    rows = queries()["llm_multimodal_image_dedup"](spark, SF).collect()
    by_hash: dict[str, list] = {}
    for r in rows:
        by_hash.setdefault(r["ahash_hex"], []).append(r)
    for members in by_hash.values():
        keeper = min(m["doc_id"] for m in members)
        assert all(m["keeper_doc_id"] == keeper for m in members)
        assert all(m["group_size"] == len(members) for m in members)
        assert sum(m["is_dup"] for m in members) == len(members) - 1


def test_zorder_interleave_model_and_locality(spark):
    """(a) the generated interleave template matches a from-scratch Python
    bit interleave on the full bucket grid edge rows; (b) the audit output
    exhibits the z-curve property the op exists for: z-order files span
    ~sqrt(cells) in BOTH dims while linear files span the full b2 range."""
    # (a) template == python model, via a tiny in-memory frame
    probe = [(0, 0), (1, 0), (0, 1), (255, 255), (170, 85), (3, 200)]
    df = spark.createDataFrame(probe, "b1 int, b2 int").withColumn(
        "z", F.expr(_interleave_sql("b1", "b2", "div"))
    )
    for r in df.collect():
        z = 0
        for i in range(ZB_BITS):
            z |= ((r["b1"] >> i) & 1) << (2 * i + 1)
            z |= ((r["b2"] >> i) & 1) << (2 * i)
        assert r["z"] == z
    # (b) locality: per-file spans from the registered query
    rows = queries()["f_zorder_layout_audit"](spark, SF).collect()
    zo = [r for r in rows if r["layout"] == "zorder"]
    li = [r for r in rows if r["layout"] == "linear"]
    assert zo and li
    zmax = max(max(r["span_b1"], r["span_b2"]) for r in zo)
    assert zmax <= 32  # square 32x32 tiles (1024 cells / file)
    assert max(r["span_b2"] for r in li) > 2 * zmax


def test_domain_cap_rank_key_matches_md5(spark):
    """The pick order really is the 48-bit md5(doc_id) prefix: recompute it
    in Python for every kept row."""
    rows = queries()["llm_sample_domain_cap"](spark, SF).collect()
    assert rows
    for r in rows:
        hx = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:12]
        assert r["u"] == int(hx, 16)


# ---------------------------------------------------------------------------
# second wave: banded hamming pairs + int8 quantization
# ---------------------------------------------------------------------------


def test_image_neardup_recall_is_total_within_radius(spark):
    """Pigeonhole contract: EVERY pair of fingerprints within hamming <= 3
    must be emitted (4 bands, 3 flipped bits cannot touch all 4). Compute
    the full exact pair set from the fingerprint frame in Python and
    compare — banding may never lose a pair inside the radius."""
    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        AHASH_HAM_MAX,
        _fixed_ppm_frame,
        ahash_image,
    )

    fps = {
        r["doc_id"]: r["ahash"]
        for r in ahash_image(_fixed_ppm_frame(spark, SF))
        .filter(F.col("ok"))
        .collect()
    }
    ids = sorted(fps)
    exact = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= AHASH_HAM_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in queries()["llm_multimodal_image_neardup_pairs"](
            spark, SF
        ).collect()
    }
    assert got == exact and len(exact) > 0


def test_image_neardup_codec_materialized_once(spark):
    """Both sides of the band self-join must read the checkpointed
    fingerprint frame — no second codec run, no documents rescan."""
    plan = _plan(spark, "llm_multimodal_image_neardup_pairs")
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_quantize_int8_stats_broadcast_and_two_pass(spark):
    """The 64-row per-dim stats frame joins back via BROADCAST (shuffling
    the exploded corpus against it would be the N*64 shuffle the two-pass
    design avoids); the only exchanges are the two map-combined dim aggs
    + input spreads."""
    plan = _plan(spark, "llm_embedding_quantize_int8")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_quantize_int8_python_model(spark):
    """Reproduce the whole quantizer from scratch in Python over the raw
    parquet floats (same e7 ladder via Decimal HALF_UP) and require exact
    per-dim equality of min/max/max_err/mean_err."""
    import decimal

    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    dims: dict[int, list[int]] = {}
    for rec in t:
        for d, x in enumerate(rec["embedding"]):
            v7 = int(
                decimal.Decimal(repr(float(x))).quantize(
                    decimal.Decimal("0.0000001"),
                    rounding=decimal.ROUND_HALF_UP,
                )
                * 10**7
            )
            dims.setdefault(d, []).append(v7)
    model = {}
    for d, vs in dims.items():
        mn, mx, n = min(vs), max(vs), len(vs)
        errs = []
        for v in vs:
            code = ((v - mn) * 255) // (mx - mn) if mx > mn else 0
            recon = mn + (code * (mx - mn)) // 255
            errs.append(abs(v - recon))
        model[d] = (n, mn, mx, max(errs), sum(errs) // n)
    got = {
        r["dim"]: (
            r["n"],
            r["min_e7"],
            r["max_e7"],
            r["max_abs_err_e7"],
            r["mean_abs_err_e7"],
        )
        for r in queries()["llm_embedding_quantize_int8"](spark, SF).collect()
    }
    assert got == model and len(model) == 64


# ---------------------------------------------------------------------------
# third wave: ANALYZE profile + theta-intersection join cardinality
# ---------------------------------------------------------------------------


def test_stats_profile_no_window_and_bounded_scans(spark):
    """The NDV sketch must be the salted k-min FOLD (no Window over the
    hash space) and the whole profile reads orders a bounded number of
    times (stack pass for ndv/null + kmv pass + one min/max pass) — never
    once per column."""
    plan = _plan(spark, "dq_table_stats_profile")
    assert "Window" not in plan
    n_scans = plan.count("orders.parquet")
    assert n_scans <= 3, f"{n_scans} orders scans (expected <= 3)"


def test_stats_profile_python_model(spark):
    """Recompute the whole per-column profile from scratch in Python
    (canonical reprs, exact NDV, KMV estimate with the same k-th order
    statistic) and require exact equality."""
    import hashlib as hl

    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.operators.hashing import KMV_K, KMV_M

    t = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    cols = {
        "o_orderkey": lambda r: str(r["o_orderkey"]),
        "o_custkey": lambda r: str(r["o_custkey"]),
        "o_orderstatus": lambda r: r["o_orderstatus"],
        "o_totalprice": lambda r: str(
            int(
                __import__("decimal").Decimal(repr(r["o_totalprice"])).quantize(
                    __import__("decimal").Decimal("0.01"),
                    rounding=__import__("decimal").ROUND_HALF_UP,
                )
                * 100
            )
        ),
        "o_orderdate": lambda r: r["o_orderdate"].strftime("%Y-%m-%d"),
        "o_orderpriority": lambda r: r["o_orderpriority"],
    }
    model = {}
    for c, fn in cols.items():
        reprs = [fn(r) for r in t if r[c] is not None]
        nn = len(reprs)
        distinct = sorted(set(reprs))
        hashes = sorted({hl.md5(x.encode()).hexdigest() for x in distinct})
        n = len(hashes)
        if n < KMV_K:
            est = n
        else:
            v = int(hashes[KMV_K - 1][:12], 16)
            est = ((KMV_K - 1) * KMV_M) // max(v, 1)
        model[c] = (len(t), nn, len(distinct), est)
    got = {
        r["col_name"]: (r["n_rows"], r["n_nonnull"], r["ndv_exact"], r["ndv_kmv_est"])
        for r in queries()["dq_table_stats_profile"](spark, SF).collect()
    }
    assert got == model


def test_join_cardinality_python_model(spark):
    """Reproduce the theta intersection from scratch: k-min sketches of
    both key sets, theta = min of the k-th values, estimate =
    |S_A ∩ S_B < theta| * M / theta — must match the Spark row exactly."""
    import hashlib as hl

    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.operators.hashing import KMV_K, KMV_M

    a_keys = {
        r["o_custkey"]
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    }
    b_keys = {
        r["user_id"]
        for r in pq.read_table(f"{SF}/events.parquet").to_pylist()
        if r["user_id"] is not None
    }
    ha = sorted(hl.md5(str(k).encode()).hexdigest() for k in a_keys)
    hb = sorted(hl.md5(str(k).encode()).hexdigest() for k in b_keys)
    ka, kb = ha[:KMV_K], hb[:KMV_K]
    theta_hx = min(ka[min(len(ha), KMV_K) - 1], kb[min(len(hb), KMV_K) - 1])
    theta_v = int(theta_hx[:12], 16)
    below = len({h for h in ka if h < theta_hx} & set(kb))
    est = (below * KMV_M) // max(theta_v, 1)
    exact = len(a_keys & b_keys)
    row = queries()["dq_sketch_join_cardinality"](spark, SF).collect()[0]
    assert (
        row["n_a_exact"],
        row["n_b_exact"],
        row["inter_exact"],
        row["inter_est"],
    ) == (len(a_keys), len(b_keys), exact, est)
    assert row["err_permille"] == (1000 * abs(est - exact)) // max(exact, 1)


def test_bpe_train_merges_python_model(spark):
    """Reproduce the full 4-round BPE trainer from scratch in Python —
    word-freq table, weighted pair counts, (count DESC, pair ASC) argmax,
    greedy left-to-right merge per word — and require the identical merge
    table. Pins both the pair-selection rule and the greedy fold
    semantics."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.text_queries import BPE_TRAIN_ROUNDS

    t = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    freq: dict[tuple, int] = {}
    for rec in t:
        for word in rec["text"].split(" "):
            if len(word) >= 1 and "|" not in word:
                key = tuple(word)
                freq[key] = freq.get(key, 0) + 1
    vocab = dict(freq)  # symbol-tuple -> freq
    model = []
    for rank in range(1, BPE_TRAIN_ROUNDS + 1):
        counts: dict[tuple, int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        (lft, rgt), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        model.append((rank, lft, rgt, lft + rgt, cnt))
        merged_vocab: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lft
                    and syms[i + 1] == rgt
                ):
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            merged_vocab[key] = merged_vocab.get(key, 0) + f
        vocab = merged_vocab
    got = [
        (
            r["merge_rank"],
            r["left_sym"],
            r["right_sym"],
            r["merged"],
            r["pair_count"],
        )
        for r in queries()["llm_bpe_train_merges"](spark, SF)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == model


def test_bpe_train_merges_no_collect_shape(spark):
    """The trainer must stay declarative: each round's winner reaches the
    next round as a broadcast one-row join (checkpointed), never a
    CartesianProduct over anything corpus-sized; the final plan reads the
    checkpointed tops."""
    plan = _plan(spark, "llm_bpe_train_merges")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan


def test_bpe_encode_corpus_consistency(spark):
    """Encode invariants over every doc: BPE tokens never exceed char
    tokens; totals reconcile with an independent python encode through
    the trained vocabulary."""
    from gmall_flink_realtime4_spark.plans.text_queries import _bpe_train

    rows = queries()["llm_bpe_encode_corpus"](spark, SF).collect()
    assert rows
    vocab = {
        r["word"]: len(r["syms"])
        for r in _bpe_train(spark, SF)[1].collect()
    }
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    model = {}
    for rec in t:
        words = [
            w for w in rec["text"].split(" ") if len(w) >= 1 and "|" not in w
        ]
        if not words:
            continue
        chars = sum(len(w) for w in words)
        bpe = sum(vocab[w] for w in words)
        model[rec["doc_id"]] = (
            len(words),
            chars,
            bpe,
            (1000 * (chars - bpe)) // chars,
        )
    got = {
        r["doc_id"]: (
            r["n_words"],
            r["n_char_tokens"],
            r["n_bpe_tokens"],
            r["saved_permille"],
        )
        for r in rows
    }
    assert got == model
    assert all(r["n_bpe_tokens"] <= r["n_char_tokens"] for r in rows)
    assert any(r["n_bpe_tokens"] < r["n_char_tokens"] for r in rows)


def test_incremental_stats_profile_partials_merge(spark):
    """Accumulate-then-finalize == one-shot: per-micro-batch profile
    partials (counts + per-salt distinct-hash sets) appended across 3
    arbitrary batches finalize to exactly the one-shot profile's
    n_rows / n_nonnull / ndv_exact / ndv_kmv_est."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        stats_profile_finalize,
        stats_profile_partials,
    )

    o = T.load(spark, SF, "orders")
    parts = None
    for bid in range(3):
        b = stats_profile_partials(o.filter(F.col("o_orderkey") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    got = {
        r["col_name"]: (
            r["n_rows"],
            r["n_nonnull"],
            r["ndv_exact"],
            r["ndv_kmv_est"],
        )
        for r in stats_profile_finalize(parts).collect()
    }
    ref = {
        r["col_name"]: (
            r["n_rows"],
            r["n_nonnull"],
            r["ndv_exact"],
            r["ndv_kmv_est"],
        )
        for r in queries()["dq_table_stats_profile"](spark, SF).collect()
    }
    assert got == ref and len(ref) == 6


def test_pagerank_python_model(spark):
    """Reproduce the 3-iteration integer PageRank from scratch in Python —
    same edge derivation (per-user lag pairs), same fixed evaluation
    order, same dangling redistribution — and require bit-identical
    ranks."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.olap_queries import (
        PR_DAMP_NUM,
        PR_ITERS,
        _PPB,
    )

    rows = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    edges: dict[tuple, int] = {}
    for evs in by_user.values():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        for a, b in zip(evs, evs[1:]):
            k = (a["event_type"], b["event_type"])
            edges[k] = edges.get(k, 0) + 1
    nodes = sorted(
        {s for s, _ in edges} | {d for _, d in edges}
    )
    n = len(nodes)
    outs = {}
    for (s, _d), c in edges.items():
        outs[s] = outs.get(s, 0) + c
    rank = {v: _PPB // n for v in nodes}
    for _ in range(PR_ITERS):
        contrib = {v: 0 for v in nodes}
        for (s, d), c in edges.items():
            contrib[d] += (rank[s] * c) // outs[s]
        dang = sum(rank[v] for v in nodes if v not in outs)
        rank = {
            v: ((100 - PR_DAMP_NUM) * (_PPB // n)) // 100
            + (PR_DAMP_NUM * (contrib[v] + dang // n)) // 100
            for v in nodes
        }
    ins = {}
    for (_s, d), c in edges.items():
        ins[d] = ins.get(d, 0) + c
    got = {
        r["event_type"]: (
            r["rank_ppb"],
            r["out_transitions"],
            r["in_transitions"],
        )
        for r in queries()["dws_event_type_pagerank"](spark, SF).collect()
    }
    model = {
        v: (rank[v], outs.get(v, 0), ins.get(v, 0)) for v in nodes
    }
    assert got == model and len(model) > 1


def test_incremental_pagerank_edge_state_table(spark):
    """Streaming twin of dws_event_type_pagerank: events arrive in 3
    event-time-ordered micro-batches; a per-user LAST-EVENT state seeds
    each batch's lag() (the path-transitions state-table pattern) so
    boundary-crossing transitions are counted, per-batch (src, dst)
    partials fold by summing cnt, and pagerank_from_edges over the merged
    edges == the one-shot batch ranks exactly."""
    from pyspark.sql import Window

    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        pagerank_from_edges,
    )

    e = T.load(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    n = e.count()
    ordered = e.orderBy("ts", "event_id").collect()
    cuts = [ordered[: n // 3], ordered[n // 3 : 2 * n // 3], ordered[2 * n // 3 :]]

    state = None  # per-user last event so far
    partials = None  # accumulated (src, dst, cnt) per batch
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    for rows in cuts:
        b = spark.createDataFrame(rows, e.schema).withColumn(
            "is_state", F.lit(0)
        )
        un = b if state is None else b.unionByName(
            state.withColumn("is_state", F.lit(1))
        )
        tr = (
            un.withColumn("prev", F.lag("event_type").over(wb))
            .filter((F.col("is_state") == 0) & F.col("prev").isNotNull())
            .groupBy(
                F.col("prev").alias("src"), F.col("event_type").alias("dst")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .localCheckpoint()
        )
        partials = tr if partials is None else partials.unionByName(tr)
        state = (
            un.drop("is_state")
            .groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts", "event_id", "event_type")
                ).alias("last")
            )
            .select("user_id", "last.ts", "last.event_id", "last.event_type")
            .localCheckpoint()
        )

    merged = partials.groupBy("src", "dst").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    got = {
        r["event_type"]: (
            r["rank_ppb"], r["out_transitions"], r["in_transitions"]
        )
        for r in pagerank_from_edges(merged).collect()
    }
    ref = {
        r["event_type"]: (
            r["rank_ppb"], r["out_transitions"], r["in_transitions"]
        )
        for r in queries()["dws_event_type_pagerank"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1


def test_hll_two_scans_no_checkpoint_no_window(spark):
    """The sketch side and the exact honesty twin each re-derive the
    shingles from the source scan (split+explode is cheap codegen; a
    checkpoint of the exploded shingle-string frame measured SLOWER at
    x10 — the materialized frame is ~100x the source bytes), so the plan
    shows exactly TWO pruned documents scans, no checkpoint, and no
    Window or cartesian anywhere (register folds are plain hash aggs)."""
    plan = _plan(spark, "llm_sketch_hll_distinct")
    assert plan.count("ReadSchema:") == 2
    assert "ExistingRDD" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # column pruning: both scans must read only text + source
    assert plan.count("ReadSchema: struct<text:string,source:string>") == 2


def test_hll_python_model(spark):
    """Reproduce the 64-register md5 shingle-HLL from scratch in Python —
    trigram shingles per source, bucket = first 8 hash bits mod 64,
    rho = 45 - bitlen of the next 44 bits (45 for zero), registers fold
    by max, pinned integer estimate — and require bit-identical output."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.olap_queries import (
        HLL_M,
        _HLL_ALPHA_DEN,
        _HLL_ALPHA_NUM,
        _HLL_W,
    )

    rows = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    reg: dict = {}
    exact: dict = {}
    for r in rows:
        t = r["text"].split(" ")
        src = r["source"]
        for i in range(max(len(t) - 2, 0)):
            sh = " ".join(t[i : i + 3])
            exact.setdefault(src, set()).add(sh)
            hx = hashlib.md5(sh.encode()).hexdigest()
            bucket = int(hx[:2], 16) % HLL_M
            v = int(hx[2:13], 16)
            rho = (_HLL_W + 1) if v == 0 else (_HLL_W + 1) - v.bit_length()
            k = (src, bucket)
            reg[k] = max(reg.get(k, 0), rho)
    model = {}
    for src in exact:
        regs = {b: r for (s2, b), r in reg.items() if s2 == src}
        denom = sum(1 << (_HLL_W + 1 - r) for r in regs.values()) + (
            HLL_M - len(regs)
        ) * (1 << (_HLL_W + 1))
        est = (
            (HLL_M * HLL_M * (1 << _HLL_W) * 2 // denom) * _HLL_ALPHA_NUM
        ) // _HLL_ALPHA_DEN
        ex = len(exact[src])
        model[src] = (ex, est, (1000 * abs(est - ex)) // ex, len(regs))
    got = {
        r["source"]: (
            r["exact_distinct"],
            r["hll_estimate"],
            r["err_permille"],
            r["buckets_active"],
        )
        for r in queries()["llm_sketch_hll_distinct"](spark, SF).collect()
    }
    assert got == model and len(model) > 1
    # every source must be in the ESTIMATING regime (all registers hit and
    # NDV past the 2.5m small-range threshold) — the omitted
    # linear-counting branch is never the operative path on this data
    assert all(m[3] == HLL_M and m[0] > 160 for m in model.values())


def test_incremental_hll_register_partials_merge(spark):
    """Register partials from 3 disjoint document slices union + re-max
    to exactly the one-shot sketch — HLL's max algebra makes the merge
    lossless with no distinct pass (the streaming accumulate-then-finalize
    twin)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.operators.minhash import (
        is_trigram,
        trigram_array,
    )
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        hll_finalize,
        hll_register_partials,
    )

    def source_shingles(docs):
        toks = docs.select(
            F.col("source").alias("grp"), F.split("text", " ").alias("t")
        )
        return toks.select(
            "grp", F.explode(trigram_array(F.col("t"))).alias("key")
        ).filter(is_trigram(F.col("key")))

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = hll_register_partials(
            source_shingles(d.filter(F.col("doc_id") % 3 == bid))
        )
        parts = b if parts is None else parts.unionByName(b)
    sh = source_shingles(d)
    exact = sh.groupBy("grp").agg(F.countDistinct("key").alias("ex"))
    cols = [
        "exact_distinct", "hll_estimate", "err_permille", "buckets_active"
    ]
    got = {
        r["source"]: tuple(r[c] for c in cols)
        for r in hll_finalize(parts, exact).collect()
    }
    ref = {
        r["source"]: tuple(r[c] for c in cols)
        for r in queries()["llm_sketch_hll_distinct"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1


def test_bm25_python_model(spark):
    """Reproduce exact-integer BM25 from scratch in Python (k1=6/5 b=3/4
    rationals, floored avgdl, ln-free idf surrogate, per-term floor-div
    order as written) and require identical top-5 per query."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        BM25_QUERIES,
        BM25_TOP_K,
    )

    rows = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    docs = {r["doc_id"]: r["text"].split(" ") for r in rows}
    n = len(docs)
    a = sum(len(t) for t in docs.values())
    avgdl = a // n
    allt = {t for ts in BM25_QUERIES.values() for t in ts}
    tf = {}  # (doc, term) -> count
    for did, toks in docs.items():
        for t in toks:
            if t in allt:
                tf[(did, t)] = tf.get((did, t), 0) + 1
    dfreq = {}
    for (_, t), _c in tf.items():
        dfreq[t] = dfreq.get(t, 0) + 1
    model = {}
    for qid, terms in BM25_QUERIES.items():
        scores = {}
        for (did, t), c in tf.items():
            if t not in terms:
                continue
            dl = len(docs[did])
            idf = (1000 * (n - dfreq[t] + 1)) // (dfreq[t] + 1)
            frac = (22 * c * avgdl * 10**9) // (
                20 * c * avgdl + 6 * avgdl + 18 * dl
            )
            s, h = scores.get(did, (0, 0))
            scores[did] = (s + idf * frac // 1000, h + 1)
        top = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        for rnk, (did, (s, h)) in enumerate(top[:BM25_TOP_K], 1):
            model[(qid, rnk)] = (did, s, h)
    got = {
        (r["query_id"], r["rnk"]): (
            r["doc_id"], r["score_ppb"], r["n_terms_hit"]
        )
        for r in queries()["llm_bm25_topk"](spark, SF).collect()
    }
    assert got == model and len(model) == 3 * BM25_TOP_K


def test_bm25_token_stream_filtered_before_shuffle(spark):
    """The exploded token stream must be cut to the query vocabulary by a
    literal In-filter inside the scan stage (map-side, before the tf
    shuffle), and documents is scanned exactly twice (token stream +
    corpus constants), both pruned to doc_id/text."""
    plan = _plan(spark, "llm_bm25_topk")
    # tf is checkpointed for its two consumers, so the only remaining
    # documents scan is the corpus-constants agg (N, sum dl)
    assert plan.count("ReadSchema:") == 1
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # the literal query-vocabulary In filter survives into the plan (the
    # token-side twin runs inside the checkpointed tf job's scan stage)
    assert "IN (batch,hash,join" in plan


def test_winnow_python_model(spark):
    """From-scratch winnowing (trigram md5 -> 44-bit ints -> window-of-4
    minima -> distinct -> df-capped pair counts) must reproduce the
    candidate pairs exactly, including the overlap per-mille."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        WINNOW_MAX_DF,
        WINNOW_MIN_SHARED,
        WINNOW_W,
    )

    rows = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    fps = {}
    for r in rows:
        t = r["text"].split(" ")
        if len(t) < 6:
            continue
        hs = [
            int(
                hashlib.md5(" ".join(t[i : i + 3]).encode()).hexdigest()[:11],
                16,
            )
            for i in range(len(t) - 2)
        ]
        sel = {
            min(hs[i : i + WINNOW_W])
            for i in range(len(hs) - WINNOW_W + 1)
        }
        fps[r["doc_id"]] = sel
    dfreq = {}
    for sel in fps.values():
        for f in sel:
            dfreq[f] = dfreq.get(f, 0) + 1
    keep = {
        f for f, nd in dfreq.items()
        if WINNOW_MIN_SHARED <= nd <= WINNOW_MAX_DF
    }
    docs = sorted(fps)
    model = {}
    for i, da in enumerate(docs):
        for db in docs[i + 1:]:
            shared = len(fps[da] & fps[db] & keep)
            if shared >= WINNOW_MIN_SHARED:
                model[(da, db)] = (
                    shared,
                    len(fps[da]),
                    len(fps[db]),
                    1000 * shared // min(len(fps[da]), len(fps[db])),
                )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["shared_fp"], r["n_fp_a"], r["n_fp_b"], r["overlap_pm"]
        )
        for r in queries()["llm_winnow_fingerprints"](spark, SF).collect()
    }
    assert got == model and len(model) > 50


def test_winnow_fingerprints_derived_once_no_window(spark):
    """Fingerprint selection is array math in a projection (no Window
    operator anywhere) and the fingerprint frame is checkpointed for its
    four consumers — the final plan reads documents ZERO times (all
    consumers hit the checkpoint RDD)."""
    plan = _plan(spark, "llm_winnow_fingerprints")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("ReadSchema:") == 0
    assert "ExistingRDD" in plan


def test_ks_drift_python_model(spark):
    """From-scratch exact-integer two-sample KS (each source vs rest,
    pooled support, cross-multiplied per-mille, min-argmax value) must
    match bit-for-bit."""
    import pyarrow.parquet as pq

    rows = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["n_chars"])
    n = len(rows)
    vals = sorted({r["n_chars"] for r in rows})
    allv = sorted(r["n_chars"] for r in rows)
    import bisect

    model = {}
    for s, xs in by_src.items():
        xs_s = sorted(xs)
        n_s = len(xs_s)
        n_r = n - n_s
        if n_r == 0:
            continue
        best, bestv = -1, None
        for v in vals:
            cs = bisect.bisect_right(xs_s, v)
            ca = bisect.bisect_right(allv, v)
            cr = ca - cs
            d = (1000 * abs(cs * n_r - cr * n_s)) // (n_s * n_r)
            if d > best:
                best, bestv = d, v
        model[s] = (n_s, n_r, best, bestv)
    got = {
        r["source"]: (
            r["n_source"], r["n_rest"], r["ks_pm"], r["ks_at_value"]
        )
        for r in queries()["dq_distribution_drift_ks"](spark, SF).collect()
    }
    assert got == model and len(model) > 1


def test_ks_drift_single_scan(spark):
    """The one corpus-wide shuffle is the (source, value) count; the
    counted histogram frame is checkpointed, so the final plan reads
    documents zero times and every Window runs on the bounded grid."""
    plan = _plan(spark, "dq_distribution_drift_ks")
    assert plan.count("ReadSchema:") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_incremental_winnow_pairs_matches_capless_batch(spark, tmp_path):
    """Union of per-batch emissions (3 arrival batches) == the one-shot
    CAPLESS batch run; on this corpus (max fingerprint df = 9 << 64) the
    capless run also equals the registered capped query, so the twin's
    union matches the driver-gated result too. Replays are idempotent."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        winnow_fingerprint_rows,
        winnow_pairs,
        winnow_sizes,
    )
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_winnow_pairs,
    )

    d = T.load(spark, SF, "documents")
    state = str(tmp_path / "winnow_state")
    cols = ["shared_fp", "n_fp_a", "n_fp_b", "overlap_pm"]
    got = {}
    for bid in range(3):
        batch = d.filter(F.col("doc_id") % 3 == bid)
        out = incremental_winnow_pairs(spark, batch, state, batch_id=bid)
        for r in out.collect():
            key = (r["doc_a"], r["doc_b"])
            assert key not in got, f"pair {key} emitted twice"
            got[key] = tuple(r[c] for c in cols)
    # replay the last batch: same emissions, state unchanged
    replay = incremental_winnow_pairs(
        spark, d.filter(F.col("doc_id") % 3 == 2), state, batch_id=2
    )
    for r in replay.collect():
        assert got[(r["doc_a"], r["doc_b"])] == tuple(r[c] for c in cols)

    fp = winnow_fingerprint_rows(d)
    capless = {
        (r["doc_a"], r["doc_b"]): tuple(r[c] for c in cols)
        for r in winnow_pairs(fp, winnow_sizes(fp)).collect()
    }
    assert got == capless and len(capless) > 50
    capped = {
        (r["doc_a"], r["doc_b"]): tuple(r[c] for c in cols)
        for r in queries()["llm_winnow_fingerprints"](spark, SF).collect()
    }
    assert got == capped  # cap never binds on this corpus (max df 9)


def test_incremental_bm25_index_matches_batch(spark):
    """Accumulate-then-finalize == one-shot: tf index rows from 3
    disjoint arrival batches union (append-only; df derived at finalize)
    and (n, a) stats partials fold by SUM to exactly the registered
    query's top-K."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        bm25_finalize,
        bm25_index_partials,
    )

    d = T.load(spark, SF, "documents")
    tf_all, stats_all = None, None
    for bid in range(3):
        tf, st = bm25_index_partials(d.filter(F.col("doc_id") % 3 == bid))
        tf_all = tf if tf_all is None else tf_all.unionByName(tf)
        stats_all = st if stats_all is None else stats_all.unionByName(st)
    cols = ["doc_id", "score_ppb", "n_terms_hit"]
    got = {
        (r["query_id"], r["rnk"]): tuple(r[c] for c in cols)
        for r in bm25_finalize(spark, tf_all, stats_all).collect()
    }
    ref = {
        (r["query_id"], r["rnk"]): tuple(r[c] for c in cols)
        for r in queries()["llm_bm25_topk"](spark, SF).collect()
    }
    assert got == ref and len(ref) == 15


def test_vocab_drift_python_model(spark):
    """From-scratch python: top-64 vocab (count desc, term asc after
    min-support 5), per-source ppm-floored proportions over vocab +
    '§other', TV / chi-square / argmax — bit-identical."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.dq_queries import (
        VOCAB_DRIFT_MIN_SUPPORT,
        VOCAB_DRIFT_V,
        _OTHER,
    )

    rows = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    cv: dict = {}
    per_src: dict = {}
    for r in rows:
        toks = r["text"].split(" ")
        for t in toks:
            cv[t] = cv.get(t, 0) + 1
            per_src.setdefault(r["source"], {})
            per_src[r["source"]][t] = per_src[r["source"]].get(t, 0) + 1
    eligible = {t: c for t, c in cv.items() if c >= VOCAB_DRIFT_MIN_SUPPORT}
    topv = {
        t for t, _ in sorted(eligible.items(), key=lambda kv: (-kv[1], kv[0]))[
            :VOCAB_DRIFT_V
        ]
    }
    # bucketed counts
    bsrc: dict = {}
    for s, tc in per_src.items():
        for t, c in tc.items():
            b = t if t in topv else _OTHER
            bsrc.setdefault(s, {})
            bsrc[s][b] = bsrc[s].get(b, 0) + c
    buckets = sorted({b for d in bsrc.values() for b in d})
    nglob = {b: sum(d.get(b, 0) for d in bsrc.values()) for b in buckets}
    ntot = sum(nglob.values())
    model = {}
    for s, d in bsrc.items():
        n_s = sum(d.values())
        tv = chi2 = 0
        best = (-1, None)
        for b in buckets:
            p_s = 10**6 * d.get(b, 0) // n_s
            p_c = 10**6 * nglob[b] // ntot
            diff = abs(p_s - p_c)
            tv += diff
            chi2 += (p_s - p_c) ** 2 // max(p_c, 1)
            if diff > best[0] or (diff == best[0] and b < best[1]):
                best = (diff, b)
        model[s] = (n_s, tv, chi2, best[1], best[0])
    got = {
        r["source"]: (
            r["n_tokens"], r["tv_ppm"], r["chi2_ppm"],
            r["top_shifted_term"], r["top_shift_ppm"],
        )
        for r in queries()["dq_vocab_drift"](spark, SF).collect()
    }
    assert got == model and len(model) > 1


def test_vocab_drift_two_scans_bounded_tail(spark):
    """Two corpus scans (vocab pass + bucket pass): the final plan shows
    at most ONE documents read (the bucket pass; the vocab pass ran
    inside the checkpointed top-V job) and everything downstream of the
    bucket agg joins broadcast against checkpointed/bounded frames."""
    plan = _plan(spark, "dq_vocab_drift")
    assert plan.count("ReadSchema:") <= 1
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_langid_eval_python_model(spark):
    """Confusion rollup from scratch over the registered per-doc langid
    output: per-class n_labeled / n_predicted / n_correct and the
    quantize-then-combine per-mille P/R/F1."""
    rows = queries()["llm_text_langid"](spark, SF).collect()
    lab: dict = {}
    prd: dict = {}
    cor: dict = {}
    for r in rows:
        lab[r["labeled_lang"]] = lab.get(r["labeled_lang"], 0) + 1
        prd[r["predicted_lang"]] = prd.get(r["predicted_lang"], 0) + 1
        if r["labeled_lang"] == r["predicted_lang"]:
            cor[r["labeled_lang"]] = cor.get(r["labeled_lang"], 0) + 1
    model = {}
    for c in set(lab) | set(prd):
        nl, np_, nc = lab.get(c, 0), prd.get(c, 0), cor.get(c, 0)
        p = 1000 * nc // max(np_, 1)
        r_ = 1000 * nc // max(nl, 1)
        model[c] = (nl, np_, nc, p, r_, 2 * p * r_ // max(p + r_, 1))
    got = {
        r["lang"]: (
            r["n_labeled"], r["n_predicted"], r["n_correct"],
            r["precision_pm"], r["recall_pm"], r["f1_pm"],
        )
        for r in queries()["dq_langid_eval"](spark, SF).collect()
    }
    assert got == model and len(model) > 1
    # the heuristic must actually separate classes on this corpus
    assert any(v[5] > 0 for v in model.values())


def test_lsh_tuning_curve_python_model(spark):
    """From-scratch python: K=12 minhash signatures, band each config,
    candidate pairs per config, exact-jaccard >= 0.5 ground truth on the
    r11 md5-rank doc sample (top LSH_CURVE_TRUTH_DOCS shingled docs by
    48-bit md5 value, tie doc_id), per-mille precision (on candidates
    with BOTH endpoints sampled) and recall — bit-identical, and the
    curve must be monotone: finer bands (smaller r) never lose
    candidates. At this SF the cap may exceed the corpus, in which case
    the sample IS the corpus — the model computes it either way."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        LSH_CURVE_CONFIGS,
        LSH_CURVE_TRUTH_DOCS,
        LSH_CURVE_TRUTH_PM,
    )

    rows = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    shs = {}
    for rec in rows:
        t = rec["text"].split(" ")
        shs[rec["doc_id"]] = {
            " ".join(t[i : i + 3]) for i in range(max(len(t) - 2, 1))
            if len(t[i : i + 3]) == 3 or len(t) <= 2
        }
        # match the engine construction exactly: windows shorter than 3
        # tokens are filtered out
        shs[rec["doc_id"]] = {
            s for s in shs[rec["doc_id"]] if len(s.split(" ")) == 3
        }
    sig = {
        d: [
            min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in ss)
            for i in range(12)
        ]
        for d, ss in shs.items()
        if ss
    }
    docs = sorted(sig)
    # md5-rank truth sample over the SHINGLED docs (engine: mh frame)
    sample = set(
        sorted(
            docs,
            key=lambda d: (
                int(hashlib.md5(str(d).encode()).hexdigest()[:12], 16),
                d,
            ),
        )[:LSH_CURVE_TRUTH_DOCS]
    )
    sdocs = sorted(sample)
    truth = set()
    for i, a in enumerate(sdocs):
        for b in sdocs[i + 1:]:
            ic = len(shs[a] & shs[b])
            if ic and 1000 * ic // (len(shs[a]) + len(shs[b]) - ic) >= (
                LSH_CURVE_TRUTH_PM
            ):
                truth.add((a, b))
    sample_pm = 1000 * len(sample) // max(len(docs), 1)
    model = {}
    for bb, r in LSH_CURVE_CONFIGS:
        cand = set()
        buckets: dict = {}
        for d in docs:
            for j in range(bb):
                key = (j, hashlib.md5(
                    "".join(sig[d][r * j : r * j + r]).encode()
                ).hexdigest())
                buckets.setdefault(key, []).append(d)
        for members in buckets.values():
            for i, a in enumerate(members):
                for b2 in members[i + 1:]:
                    cand.add((min(a, b2), max(a, b2)))
        scand = {p for p in cand if p[0] in sample and p[1] in sample}
        tp = len(scand & truth)
        model[f"{bb:02d}x{r:02d}"] = (
            bb, r, len(cand), len(scand), len(truth), tp,
            1000 * tp // max(len(scand), 1),
            1000 * tp // max(len(truth), 1),
            len(sample), sample_pm,
        )
    got = {
        r["cfg"]: (
            r["bands"], r["rows_per_band"], r["n_candidates"],
            r["n_cand_sampled"], r["n_true_pairs"], r["true_positives_sampled"],
            r["precision_pm"], r["recall_pm"],
            r["truth_sample_docs"], r["truth_sample_pm"],
        )
        for r in queries()["llm_lsh_tuning_curve"](spark, SF).collect()
    }
    assert got == model and len(model) == len(LSH_CURVE_CONFIGS)
    # curve sanity: r=1 must dominate candidate counts (the hot-bucket
    # floor the banding exists to avoid)
    assert got["12x01"][2] >= got["04x03"][2]


def test_lsh_tuning_curve_signatures_once(spark):
    """Every config bands the SAME checkpointed signature frame and the
    shingle frame is checkpointed for its consumers: the final plan
    never rescans documents, and there is no cartesian anywhere."""
    plan = _plan(spark, "llm_lsh_tuning_curve")
    assert plan.count("ReadSchema:") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_benford_python_model(spark):
    """From-scratch python: floor-then-first-digit counts, ppm-floored
    observed per-mille vs the pinned Benford constants, chi-square —
    bit-identical; and the audit must honestly flag THIS synthetic
    warehouse as non-Benford (uniform price generator loads digits 1-4)."""
    import math

    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.dq_queries import BENFORD_PM

    # the pinned constants must BE Benford (round-to-nearest per-mille)
    assert list(BENFORD_PM) == [
        round(1000 * math.log10(1 + 1 / d)) for d in range(1, 10)
    ]
    assert sum(BENFORD_PM) == 1000

    rows = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    c: dict = {}
    for r in rows:
        p = r["o_totalprice"]
        if p is not None and p >= 1:
            d = int(str(int(math.floor(p)))[0])
            c[d] = c.get(d, 0) + 1
    t = sum(c.values())
    model = {}
    chi_total = sum(
        ((1000 * c.get(d, 0) // t) - pm) ** 2 // pm
        for d, pm in zip(range(1, 10), BENFORD_PM)
    )
    for d, pm in zip(range(1, 10), BENFORD_PM):
        obs = 1000 * c.get(d, 0) // t
        model[d] = (
            c.get(d, 0), obs, pm, abs(obs - pm),
            (obs - pm) ** 2 // pm, chi_total,
        )
    got = {
        r["digit"]: (
            r["n_orders"], r["obs_pm"], r["benford_pm"], r["dev_pm"],
            r["chi2_contrib"], r["chi2_total_pm"],
        )
        for r in queries()["dq_benford_first_digit"](spark, SF).collect()
    }
    assert got == model and len(got) == 9
    # the honesty claim: synthetic uniform prices are NOT Benford
    assert got[1][5] > 100


def test_benford_single_scan_constant_tail(spark):
    """One pushed orders scan feeds the 9-key count; every downstream
    step (digit grid, totals, chi-square fold) is constant-size
    broadcast work against the checkpointed count."""
    plan = _plan(spark, "dq_benford_first_digit")
    assert plan.count("ReadSchema:") == 0  # count ran inside the checkpoint
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_pps_python_model_and_identity(spark):
    """From-scratch python systematic PPS (global cumsum, stride = W//N,
    offset = stride//2, interval-hit arithmetic) must match bit-for-bit;
    sum(n_hits) == PPS_N is the structural systematic-sampling identity;
    and any doc heavier than one stride must be selected (the PPS
    guarantee uniform sampling lacks)."""
    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.corpus_queries import PPS_N

    rows = sorted(
        pq.read_table(f"{SF}/documents.parquet").to_pylist(),
        key=lambda r: r["doc_id"],
    )
    wtot = sum(r["n_chars"] for r in rows)
    stride = wtot // PPS_N
    off = stride // 2
    model = {}
    cum = 0
    for r in rows:
        lo, hi = cum, cum + r["n_chars"]
        cum = hi
        k_lo = 0 if lo <= off else (lo - off + stride - 1) // stride
        k_hi = -1 if hi <= off else min((hi - 1 - off) // stride, PPS_N - 1)
        if k_hi >= k_lo:
            model[r["doc_id"]] = (r["n_chars"], lo, k_lo, k_hi - k_lo + 1)
    got = {
        r["doc_id"]: (r["weight"], r["cum_lo"], r["k_first"], r["n_hits"])
        for r in queries()["llm_sample_pps"](spark, SF).collect()
    }
    assert got == model and len(model) > 10
    assert sum(v[3] for v in got.values()) == PPS_N
    for w, lo, k0, hits in got.values():
        assert hits >= 1
        if w > stride:
            assert hits >= 1  # heavier-than-stride docs always selected
    # the model must include every doc heavier than one stride
    for r in rows:
        if r["n_chars"] > stride:
            assert r["doc_id"] in model


def test_pps_prefix_sum_is_distributed(spark):
    """The cumulative-weight windows partition by the doc_id-range
    bucket (parallel), never an unpartitioned global ORDER BY over doc
    rows — the only unpartitioned window runs on the rows/{bucket}
    offsets frame. Selection is map-side: no join against any
    materialized point set."""
    from gmall_flink_realtime4_spark.plans.corpus_queries import PPS_BUCKET

    plan = _plan(spark, "llm_sample_pps")
    assert f"div {PPS_BUCKET}" in plan  # bucketed partition key present
    assert "CartesianProduct" not in plan


def test_incremental_ks_count_partials_merge(spark):
    """(source, n_chars) count partials from 3 disjoint document slices
    union + re-sum to exactly the one-shot histogram, and the KS tail
    over the merge equals the registered query — the accumulate-then-
    finalize twin (sum algebra; the checksum/anomaly-partials pattern)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        ks_count_partials,
        ks_finalize,
    )

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = ks_count_partials(d.filter(F.col("doc_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    merged = parts.groupBy("source", "v").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    cols = ["n_source", "n_rest", "ks_pm", "ks_at_value"]
    got = {
        r["source"]: tuple(r[c] for c in cols)
        for r in ks_finalize(merged).collect()
    }
    ref = {
        r["source"]: tuple(r[c] for c in cols)
        for r in queries()["dq_distribution_drift_ks"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1


def test_incremental_benford_partials_merge(spark):
    """First-digit count partials from 3 disjoint order slices union +
    re-sum to the one-shot counts exactly (plain sum algebra)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        benford_digit_partials,
    )

    o = T.load(spark, SF, "orders")
    parts = None
    for bid in range(3):
        b = benford_digit_partials(o.filter(F.col("o_orderkey") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    merged = {
        r["digit"]: r["s"]
        for r in parts.groupBy("digit")
        .agg(F.sum("n_orders").cast("bigint").alias("s"))
        .collect()
    }
    whole = {
        r["digit"]: r["n_orders"]
        for r in benford_digit_partials(o).collect()
    }
    assert merged == whole and len(whole) > 3


def test_audio_resample_identity_roundtrip_and_model(spark):
    """factor=1 must rebuild the EXACT input container (full parse ->
    header re-pack -> byte equality), and factor=2 must equal a
    from-scratch python decimation of the same WAV — including the
    rebuilt 4 kHz header bytes."""
    import struct as st

    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        resample_audio,
        wav_frame,
    )

    wavs = {
        r["doc_id"]: bytes(r["media_bytes"])
        for r in wav_frame(spark, SF).collect()
    }
    ident = {
        r["doc_id"]: bytes(r["media_bytes"])
        for r in resample_audio(wav_frame(spark, SF), 1).collect()
    }
    assert ident == wavs and len(wavs) > 50  # byte-identical round trip

    half = {
        r["doc_id"]: bytes(r["media_bytes"])
        for r in resample_audio(wav_frame(spark, SF), 2).collect()
    }
    for doc_id, b in wavs.items():
        data = b[44:]
        dec = data[::2]
        hdr = (
            b"RIFF" + st.pack("<I", 36 + len(dec)) + b"WAVEfmt "
            + st.pack("<IHHIIHH", 16, 1, 1, 4000, 4000, 1, 8)
            + b"data" + st.pack("<I", len(dec))
        )
        assert half[doc_id] == hdr + dec


def test_audio_resample_map_only(spark):
    """Both variants are map-only mapInPandas over the same pruned scan:
    no join, no Window, no agg shuffle — the only Exchanges are
    tables.load's small-input spread (round-robin; a no-op at real
    scale), one per union branch."""
    plan = _plan(spark, "llm_multimodal_audio_resample")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert tree.count("Exchange") <= 2
    assert "MapInPandas" in tree


def test_dau_wau_python_model(spark):
    """From-scratch python DAU/WAU/stickiness over the events parquet
    (UTC day strings, trailing-7 distinct union) — bit-identical; day 1's
    WAU must equal its DAU (partial trailing window, documented)."""
    import datetime as dt

    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.olap_queries import WAU_DAYS

    t = pq.read_table(f"{SF}/events.parquet", columns=["user_id", "ts"])
    by_day: dict = {}
    for r in t.to_pylist():
        if r["user_id"] is None:
            continue
        ts = r["ts"]
        if isinstance(ts, int):  # TIMESTAMP(NANOS) surfaces as int ns
            d = dt.datetime.fromtimestamp(
                ts / 1e9, tz=dt.timezone.utc
            ).strftime("%Y-%m-%d")
        else:
            d = ts.strftime("%Y-%m-%d")
        by_day.setdefault(d, set()).add(r["user_id"])
    days = sorted(by_day)
    model = {}
    for d in days:
        dd = dt.date.fromisoformat(d)
        w = set()
        for k in range(WAU_DAYS):
            w |= by_day.get((dd - dt.timedelta(days=k)).isoformat(), set())
        dau, wau = len(by_day[d]), len(w)
        model[d] = (dau, wau, 1000 * dau // wau)
    got = {
        r["day"]: (r["dau"], r["wau"], r["stickiness_pm"])
        for r in queries()["dws_dau_wau_stickiness"](spark, SF).collect()
    }
    assert got == model and len(model) > 5
    first = min(model)
    assert model[first][0] == model[first][1]  # day 1: WAU == DAU


def test_dau_wau_no_range_join(spark):
    """WAU must be the map-side fan-out form: no BroadcastNestedLoopJoin
    (the range-join trap), no CartesianProduct; the collapsed (user,day)
    frame is checkpointed for its three consumers."""
    plan = _plan(spark, "dws_dau_wau_stickiness")
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert plan.count("ReadSchema:") == 0  # collapse ran inside checkpoint


def test_incremental_vocab_drift_partials_merge(spark):
    """(source, term) count partials from 3 disjoint document slices
    union + re-sum to the one-shot unigram counts, and the finalize —
    which rebuilds the top-V vocabulary from the MERGED counts before
    bucketing — equals the registered report exactly (the streaming
    accumulate-then-finalize twin the r6 verdict asked for)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        vocab_drift_finalize,
        vocab_drift_term_partials,
    )

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = vocab_drift_term_partials(d.filter(F.col("doc_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    cols = [
        "n_tokens", "tv_ppm", "chi2_ppm", "top_shifted_term", "top_shift_ppm"
    ]
    got = {
        r["source"]: tuple(r[c] for c in cols)
        for r in vocab_drift_finalize(parts).collect()
    }
    ref = {
        r["source"]: tuple(r[c] for c in cols)
        for r in queries()["dq_vocab_drift"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1


def test_incremental_langid_confusion_partials_merge(spark):
    """Confusion-matrix partials from 3 disjoint document slices union +
    re-sum to the one-shot confusion counts, and the class-marginal
    finalize equals the registered P/R/F1 report exactly — including
    classes that only ever appear on one axis (honest-zero rows)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        langid_confusion_partials,
        langid_eval_finalize,
    )

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = langid_confusion_partials(d.filter(F.col("doc_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    cols = [
        "n_labeled", "n_predicted", "n_correct",
        "precision_pm", "recall_pm", "f1_pm",
    ]
    got = {
        r["lang"]: tuple(r[c] for c in cols)
        for r in langid_eval_finalize(parts).collect()
    }
    ref = {
        r["lang"]: tuple(r[c] for c in cols)
        for r in queries()["dq_langid_eval"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1


def test_incremental_lsh_curve_partials_merge(spark):
    """Shingle-fingerprint partials from 3 disjoint document slices union
    to the one-shot shingle table (shingles are within-document, so the
    union IS the merge), and the finalize — signatures, banding, exact
    Jaccard truth — equals the registered curve exactly, INCLUDING
    cross-batch candidate/truth pairs (doc_id % 3 splits co-shingled
    docs across batches by construction)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.operators.minhash import shingles
    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        lsh_curve_finalize,
    )

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = shingles(d.filter(F.col("doc_id") % 3 == bid)).drop("n_sh")
        parts = b if parts is None else parts.unionByName(b)
    cols = [
        "bands", "rows_per_band", "n_candidates", "n_true_pairs",
        "true_positives_sampled", "precision_pm", "recall_pm",
    ]
    got = {
        r["cfg"]: tuple(r[c] for c in cols)
        for r in lsh_curve_finalize(parts).collect()
    }
    ref = {
        r["cfg"]: tuple(r[c] for c in cols)
        for r in queries()["llm_lsh_tuning_curve"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1
