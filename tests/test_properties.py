"""Property tests for the stateful few (SURVEY.md §5.4).

The reference's dedup/state operators exist to make pipelines idempotent
under record duplication and re-ordering (Kafka at-least-once delivery).
These properties ARE the contract, so they're tested as properties:
hypothesis generates the duplication/shuffling; Spark runs the operator.
"""

from __future__ import annotations

import os
import random
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from gmall_flink_realtime4_spark.operators.dedup import (
    first_per_key,
    first_today,
)
from gmall_flink_realtime4_spark.operators.stateful import repair_is_new_batch

# one base universe of rows: (id, key, ts, amount)
ROW = st.tuples(
    st.integers(0, 5),  # id (small range => collisions on purpose)
    st.sampled_from(["u1", "u2", "u3"]),
    st.integers(0, 200_000_000),  # ts millis, spans >1 day
    st.integers(0, 100),
)

PROP_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, k, t, a) for (i, k, t, a) in rows],
        "id long, key string, ts long, amount long",
    )


@given(rows=st.lists(ROW, min_size=1, max_size=25), seed=st.integers(0, 10**6))
@settings(**PROP_SETTINGS)
def test_dedup_upserts_idempotent_under_duplication(spark, rows, seed):
    """A1: re-emitting any subset of rows (at-least-once delivery) must not
    change the deduped result; keeper choice is order-deterministic."""
    rng = random.Random(seed)
    dup = rows + [r for r in rows if rng.random() < 0.5]
    rng.shuffle(dup)
    base = first_per_key(_df(spark, rows), ["id"], "ts")
    redelivered = first_per_key(_df(spark, dup), ["id"], "ts")
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, redelivered.collect())
    )


@given(rows=st.lists(ROW, min_size=1, max_size=25))
@settings(**PROP_SETTINGS)
def test_dedup_upserts_is_idempotent_operator(spark, rows):
    """dedup(dedup(x)) == dedup(x)."""
    once = first_per_key(_df(spark, rows), ["id"], "ts")
    twice = first_per_key(once, ["id"], "ts")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(rows=st.lists(ROW, min_size=1, max_size=25), seed=st.integers(0, 10**6))
@settings(**PROP_SETTINGS)
def test_first_today_duplication_invariant(spark, rows, seed):
    """A8: the (key, day) universe of first-today survivors is invariant
    under duplication; exactly one survivor per (key, day)."""
    rng = random.Random(seed)
    dup = rows + [r for r in rows if rng.random() < 0.5]
    rng.shuffle(dup)

    def days(df):
        out = first_today(
            df.withColumn("tsx", F.timestamp_millis("ts")), "key", "tsx"
        )
        return sorted(
            (r["key"], r["d"])
            for r in out.select(
                "key", F.date_format("tsx", "yyyy-MM-dd").alias("d")
            ).collect()
        )

    a, b = days(_df(spark, rows)), days(_df(spark, dup))
    assert a == b
    assert len(a) == len(set(a))


@given(rows=st.lists(ROW, min_size=1, max_size=25))
@settings(**PROP_SETTINGS)
def test_is_new_repair_idempotent_and_monotone(spark, rows):
    """W10: repair never turns 0 into 1 (monotone) and repairing a repaired
    stream is a no-op (idempotent) — the reference state machine's fixed
    point."""
    # rid = row identity: (mid, ts) does NOT identify a row once two
    # same-user events share a millisecond but differ in is_new — joining
    # on it cross-matched a legitimately-kept '1' output against the
    # OTHER row's '0' input (hypothesis found the collision; the operator
    # itself can never emit '1' from a '0' input row)
    log = spark.createDataFrame(
        [
            (rid, k, "1" if i % 2 == 0 else "0", t)
            for rid, (i, k, t, _) in enumerate(rows)
        ],
        "rid long, mid string, is_new string, ts long",
    )
    once = repair_is_new_batch(log)
    # monotone: every '1' in the output was a '1' in the SAME input row
    joined = once.alias("o").join(
        log.alias("i"), F.col("o.rid") == F.col("i.rid")
    )
    bad = joined.filter(
        (F.col("o.is_new") == "1") & (F.col("i.is_new") == "0")
    ).count()
    assert bad == 0
    twice = repair_is_new_batch(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(
    lrows=st.lists(
        st.tuples(st.sampled_from(["u1", "u2", "u3"]), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    ),
    rrows=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2", "u4"]),
            st.integers(0, 50),
            st.integers(0, 1000),
        ),
        min_size=0,
        max_size=20,
        unique_by=lambda r: (r[0], r[1]),  # one right row per (key, ts)
    ),
)
@settings(**PROP_SETTINGS)
def test_asof_join_matches_bruteforce(spark, lrows, rrows):
    """asof_join (log-merge window formulation) == the quadratic
    definition: for each left row, the right row with the greatest
    right_ts <= left_ts on the same key, else NULL."""
    from gmall_flink_realtime4_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        "key string, ts long, lid long",
    )
    right = spark.createDataFrame(rrows, "key string, rts long, val long")
    got = {
        r["lid"]: r["val"]
        for r in asof_join(
            left, right, "key", "key", "ts", "rts", right_cols=["val"]
        ).collect()
    }
    expect = {}
    for i, (k, t) in enumerate(lrows):
        best = None
        for rk, rt, v in rrows:
            if rk == k and rt <= t and (best is None or rt > best[0]):
                best = (rt, v)
        expect[i] = best[1] if best else None
    assert got == expect


@pytest.mark.parametrize("n_dups", [0, 1, 3])
def test_flagship_dedup_net_out(spark, n_dups):
    """A1 end-to-end shape: duplicated upsert emissions with identical
    payloads net out of the windowed sums entirely."""
    base = [(1, "u1", 1_000, 10), (2, "u1", 2_000, 20), (3, "u2", 3_000, 30)]
    rows = base + base[:n_dups]
    deduped = first_per_key(_df(spark, rows), ["id"], "ts")
    total = deduped.agg(F.sum("amount").alias("s")).collect()[0]["s"]
    assert total == 60


# ---------------------------------------------------------------------------
# Round-3: chunk-dedup properties over generated corpora
# ---------------------------------------------------------------------------
DOC = st.lists(
    st.sampled_from(["a", "b", "c"]),  # 3-token vocab => chunk collisions
    min_size=1,
    max_size=35,
)


@given(docs=st.lists(DOC, min_size=1, max_size=12), seed=st.integers(0, 10**6))
@settings(**PROP_SETTINGS)
def test_chunk_dedup_accounting_property(spark, docs, seed):
    """For ANY corpus: sum(n_chunks) - sum(n_dup_chunks) == global distinct
    chunk count; per-doc n_chunks == ceil(tokens/10); kept_tokens <= doc
    tokens. Row order / partitioning must not change the result."""
    import math

    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        CHUNK_TOKENS,
        chunk_dedup,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    rng = random.Random(seed)
    shuffled = rows[:]
    rng.shuffle(shuffled)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in chunk_dedup(df).collect()}
    out2 = {
        r.doc_id: r
        for r in chunk_dedup(
            spark.createDataFrame(shuffled, "doc_id long, text string").repartition(7)
        ).collect()
    }
    assert {k: (v.n_chunks, v.n_dup_chunks, v.kept_tokens) for k, v in out.items()} == {
        k: (v.n_chunks, v.n_dup_chunks, v.kept_tokens) for k, v in out2.items()
    }

    # accounting against a pure-python oracle
    def chunks_of(toks):
        return [
            " ".join(toks[i * CHUNK_TOKENS : (i + 1) * CHUNK_TOKENS])
            for i in range(math.ceil(len(toks) / CHUNK_TOKENS))
        ]

    all_chunks = [c for toks in docs for c in chunks_of(toks)]
    assert sum(r.n_chunks for r in out.values()) == len(all_chunks)
    assert sum(r.n_chunks - r.n_dup_chunks for r in out.values()) == len(
        set(all_chunks)
    )
    for i, toks in enumerate(docs):
        assert out[i].n_chunks == math.ceil(len(toks) / CHUNK_TOKENS)
        assert out[i].kept_tokens <= len(toks)


DOC_SHORT = st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=20)


@given(docs=st.lists(DOC_SHORT, min_size=1, max_size=10))
@settings(**PROP_SETTINGS)
def test_dup_span_coverage_property(spark, docs):
    """For ANY corpus: docs with < 8 tokens are absent; window count is
    tokens-7; a doc duplicated verbatim under a different id is fully
    covered; coverage matches a pure-python span-frequency oracle."""
    from gmall_flink_realtime4_spark.plans import dedup_queries as C

    rows_in = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # append a verbatim duplicate of the first doc with >= 8 tokens, if any
    long_ids = [i for i, toks in enumerate(docs) if len(toks) >= 8]
    if long_ids:
        rows_in.append((10_000, rows_in[long_ids[0]][1]))

    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    out = {r.doc_id: r for r in C.dup_span_coverage(df).collect()}

    # python oracle
    from collections import Counter

    def windows(text):
        t = text.split(" ")
        return [
            " ".join(t[i : i + C.SPAN_TOKENS])
            for i in range(len(t) - C.SPAN_TOKENS + 1)
        ]

    counts = Counter(wd for _, text in rows_in for wd in windows(text))
    for doc_id, text in rows_in:
        ws = windows(text)
        if not ws:
            assert doc_id not in out
            continue
        r = out[doc_id]
        assert r.n_windows == len(ws)
        assert r.n_dup_windows == sum(1 for wd in ws if counts[wd] > 1)
    if long_ids:
        assert out[10_000].n_dup_windows == out[10_000].n_windows


# ---------------------------------------------------------------------------
# dq_checksum_partition core: the fingerprint's whole value proposition is
# (a) invariance to row order / partitioning / batch boundaries and
# (b) sensitivity to any row-level change. Both tested as properties.
# ---------------------------------------------------------------------------
DOC_ROW = st.tuples(
    st.integers(0, 50),  # doc_id (collisions on purpose — identity is in md5)
    st.text(alphabet="abc :", min_size=0, max_size=12),
    st.sampled_from(["s1", "s2"]),
)


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, s, len(t)) for (i, t, s) in rows],
        "doc_id long, text string, source string, n_chars long",
    )


def _cks(df):
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        checksum_finalize,
        checksum_partials,
    )

    return sorted(
        (r.source, r.n_rows, r.content_checksum)
        for r in checksum_finalize(checksum_partials(df)).collect()
    )


@given(rows=st.lists(DOC_ROW, min_size=1, max_size=20), seed=st.integers(0, 10**6))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_checksum_order_and_split_invariant(spark, rows, seed):
    """Shuffled row order, different partition counts, and two-batch
    partial-fold all yield the identical fingerprint."""
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        checksum_finalize,
        checksum_partials,
    )

    rng = random.Random(seed)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    base = _cks(_docs_df(spark, rows))
    assert _cks(_docs_df(spark, shuffled).repartition(7)) == base
    cut = rng.randint(0, len(rows))
    merged = checksum_finalize(
        checksum_partials(_docs_df(spark, rows[:cut])).unionByName(
            checksum_partials(_docs_df(spark, rows[cut:]))
        )
    )
    assert sorted((r.source, r.n_rows, r.content_checksum) for r in merged.collect()) == base


@given(rows=st.lists(DOC_ROW, min_size=2, max_size=20), seed=st.integers(0, 10**6))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_checksum_detects_dropped_row(spark, rows, seed):
    """Dropping any single row changes its source's fingerprint (count or
    digest-sum) — a silent loss cannot checksum-match."""
    rng = random.Random(seed)
    victim = rng.randrange(len(rows))
    base = _cks(_docs_df(spark, rows))
    dropped = _cks(_docs_df(spark, rows[:victim] + rows[victim + 1 :]))
    assert dropped != base


# --- SemDeDup step-0 compression: the directed-expansion contract --------
# The compressed embedding_cells miner tracks BOTH directed rep-level
# candidacies because member order inside a rep pair can straddle the rep
# order either way. Hypothesis drives random group sizes AND a random
# id-to-vector permutation (the adversarial part); the property is exact
# pair-set equality with the uncompressed miner, scores included.
VEC_VALS = (0.25, 0.5, 1.0)


@given(data=st.data())
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_cells_compression_equality_property(spark, tmp_path_factory, data):
    import pandas as pd

    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        llm_dedup_embedding_cells,
    )

    dim = 16
    n_groups = data.draw(st.integers(1, 5), label="n_groups")
    base = [
        data.draw(
            st.lists(
                st.sampled_from(VEC_VALS), min_size=dim, max_size=dim
            ),
            label=f"vec{g}",
        )
        for g in range(n_groups)
    ]
    mults = [data.draw(st.integers(1, 4), label=f"mult{g}") for g in range(n_groups)]
    slots = [g for g, m in enumerate(mults) for _ in range(m)]
    perm = data.draw(st.permutations(slots), label="perm")
    rows = [
        {"vec_id": i, "embedding": [float(x) for x in base[g]], "label": g}
        for i, g in enumerate(perm)
    ]
    sf = tmp_path_factory.mktemp("cellsprop")
    pd.DataFrame(rows).to_parquet(sf / "embeddings.parquet", index=False)

    comp = sorted(
        tuple(r) for r in llm_dedup_embedding_cells(spark, str(sf)).collect()
    )
    ref = sorted(
        tuple(r)
        for r in llm_dedup_embedding_cells(
            spark, str(sf), compress_exact=False
        ).collect()
    )
    assert comp == ref


# --- connected components: both algorithms vs a union-find reference ------
EDGE = st.tuples(st.integers(0, 14), st.integers(0, 14))


def _union_find_labels(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(edges=st.lists(EDGE, min_size=1, max_size=20))
@settings(**PROP_SETTINGS)
def test_connected_components_both_algorithms_exact(spark, edges):
    """Property: on arbitrary small graphs (self-loops, duplicates, and
    random topology included), BOTH connected-components algorithms emit
    exactly the union-find ground truth — one row per node that appears
    in any edge, labeled with its component minimum."""
    from gmall_flink_realtime4_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find_labels(edges)
    for algo in ("propagate", "star"):
        got = {
            r.node: r.lab
            for r in connected_components(df, algorithm=algo).collect()
        }
        assert got == want, algo


# --- prescore-margin lemma: adversarial quantization-boundary vectors ----
def _rand_vecs(seed, n, d=8):
    """Deterministic float32-ish vectors with values engineered to sit
    near DECIMAL(9,7) rounding boundaries (x.xxxxxxx5) — the worst case
    for the double-vs-decimal margin argument."""
    import hashlib

    out = []
    for i in range(n):
        vec = []
        for j in range(d):
            h = int.from_bytes(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[:8], "big"
            )
            base = (h % 2_000_000) / 1_000_000.0 - 1.0  # [-1, 1)
            if h % 3 == 0:  # push onto a 7-dp half boundary
                base = round(base, 7) + 5e-8
            vec.append(float(base))
        out.append((i, vec))
    return out


@given(seed=st.integers(0, 10**6))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_topcells_prerank_margin_survives_boundary_vectors(spark, seed):
    """Property: the double pre-rank + decimal-rescore assignment equals
    the one-pass decimal ranking even when vector elements sit exactly on
    DECIMAL(9,7) rounding boundaries (the adversarial case for the
    PRESCORE_MARGIN_E9 bound)."""
    import pyspark.sql.functions as F

    from gmall_flink_realtime4_spark.operators.vectors import dot_dec
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        _probe_cells,
        _topcells,
    )

    emb = spark.createDataFrame(
        _rand_vecs(seed, 24), "vec_id long, embedding array<double>"
    )
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    cent = embn.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    fast = {
        r.vec_id: list(r.cells)
        for r in _topcells(embn, cent, 2)
        .select("vec_id", _probe_cells().alias("cells"))
        .collect()
    }
    slow = {
        r.vec_id: list(r.cells)
        for r in _topcells(embn, cent, 2, dot=dot_dec)
        .select("vec_id", _probe_cells().alias("cells"))
        .collect()
    }
    assert fast == slow


# ---------------------------------------------------------------------------
# Round-5 extensions: integer floor-log2 exactness and count-min soundness.
# ---------------------------------------------------------------------------


@given(xs=st.lists(st.integers(1, 2**62), min_size=1, max_size=40))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bin_length_floor_log2_property(spark, xs):
    """The surprisal primitive: length(bin(x)) - 1 == floor(log2(x)) for
    arbitrary positive BIGINTs — including values where double log2
    rounds across the integer boundary (2^k and 2^k - 1 neighbours)."""
    probe = sorted(set(xs) | {x - 1 for x in xs if x > 1} | {x + 1 for x in xs})
    df = spark.createDataFrame([(x,) for x in probe], "x long")
    got = {
        r.x: r.fl2
        for r in df.selectExpr(
            "x", "CAST(length(bin(x)) - 1 AS BIGINT) AS fl2"
        ).collect()
    }
    for x in probe:
        assert got[x] == x.bit_length() - 1, x


@given(
    tokens=st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee", "ff", "g h", ""]),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_countmin_sound_on_arbitrary_corpora(spark, tokens):
    """CM soundness on hypothesis-generated token multisets: the estimate
    is never below the exact count, and the whole-corpus sketch equals the
    merged per-half sketches (mergeability independent of the data)."""
    from collections import Counter

    from gmall_flink_realtime4_spark.plans.olap_queries import countmin_sketch

    exact = Counter(tokens)
    tc = spark.createDataFrame(
        [(t, c) for t, c in exact.items()], "token string, exact_count long"
    )
    sk = countmin_sketch(tc)
    rows = tc.select(
        "token",
        "exact_count",
        F.explode(F.array([F.lit(i) for i in range(4)])).alias("rw"),
    )
    from gmall_flink_realtime4_spark.plans.olap_queries import _CM_HV

    hashed = rows.withColumn(
        "hx",
        F.md5(F.concat(F.col("token"), F.lit(":cm"), F.col("rw").cast("string"))),
    ).withColumn("bucket", F.expr(f"({_CM_HV}) % 256"))
    est = (
        hashed.join(sk, ["rw", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("bucket_count").alias("cm_estimate"))
        .collect()
    )
    assert {r.token for r in est} == set(exact)
    for r in est:
        assert r.cm_estimate >= r.exact_count >= 1

    half_a = tc.filter(F.md5("token").substr(1, 1) < "8")
    half_b = tc.filter(F.md5("token").substr(1, 1) >= "8")
    merged = (
        countmin_sketch(half_a)
        .unionByName(countmin_sketch(half_b))
        .groupBy("rw", "bucket")
        .agg(F.sum("bucket_count").cast("bigint").alias("bucket_count"))
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in sk.collect()}


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "dd", "e", "ff g"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_unigram_surprisal_matches_python_model(spark, tmp_path_factory, docs):
    """Engine-independent intent check: the registered unigram-surprisal
    query must equal a from-scratch Python unigram LM (floor-log2 integer
    bits) on arbitrary corpora — catching any shared-wrong-assumption bug
    where Spark and the DuckDB oracle agree with each other but not with
    the model definition."""
    from collections import Counter

    from gmall_flink_realtime4_spark.plans.catalog import queries

    texts = [" ".join(d) for d in docs]
    # sampled words may contain spaces ("ff g") — the engine tokenizes the
    # JOINED text, so compute the python model over the same split
    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    counts = Counter(w for ws in toks.values() for w in ws)
    total = sum(counts.values())
    expected = {}
    for i, ws in toks.items():
        bits = sum((total // counts[w]).bit_length() - 1 for w in ws)
        expected[i] = (len(ws), bits, (1000 * bits) // max(len(ws), 1))

    sf = str(tmp_path_factory.mktemp("surprisal_prop"))
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r.doc_id: (r.n_tokens, r.sum_surprisal_bits, r.mean_surprisal_millibits)
        for r in queries()["llm_text_unigram_surprisal"](spark, sf).collect()
    }
    assert out == expected


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "dd", "e"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bigram_surprisal_matches_python_model(spark, tmp_path_factory, docs):
    """Same engine-independent check for the conditional bigram model:
    bits = floor(log2(context_count / bigram_count)) summed over adjacent
    pairs; single-token docs drop out."""
    from collections import Counter

    from gmall_flink_realtime4_spark.plans.catalog import queries

    pairs_per_doc = {
        i: list(zip(d, d[1:])) for i, d in enumerate(docs) if len(d) >= 2
    }
    bc = Counter(p for ps in pairs_per_doc.values() for p in ps)
    cc = Counter()
    for (w1, _), n in bc.items():
        cc[w1] += n
    expected = {}
    for i, ps in pairs_per_doc.items():
        bits = sum((cc[w1] // bc[(w1, w2)]).bit_length() - 1 for (w1, w2) in ps)
        expected[i] = (len(ps), bits, (1000 * bits) // max(len(ps), 1))

    sf = str(tmp_path_factory.mktemp("bigram_prop"))
    spark.createDataFrame(
        [(i, " ".join(d), "en", "s", 1) for i, d in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r.doc_id: (r.n_bigrams, r.sum_bigram_bits, r.mean_bigram_millibits)
        for r in queries()["llm_text_bigram_surprisal"](spark, sf).collect()
    }
    assert out == expected


@given(
    words=st.lists(
        st.sampled_from(["aaa", "ab", "abc", "x", "yy", "abab", "ba"]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bpe_pair_counts_matches_python_model(spark, tmp_path_factory, words):
    """From-scratch BPE step-1 check: pair counts must weight by word
    frequency and count OVERLAPPING occurrences within a word ("aaa"
    contributes "aa" twice), dropping words shorter than 2 chars."""
    from collections import Counter

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.text_queries import BPE_TOP_K

    pc = Counter()
    for w in words:
        if len(w) >= 2:
            for i in range(len(w) - 1):
                pc[w[i : i + 2]] += 1
    ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    expected = {p: (n, r) for r, (p, n) in enumerate(ranked, start=1)}

    sf = str(tmp_path_factory.mktemp("bpe_prop"))
    spark.createDataFrame(
        [(0, " ".join(words), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r.pair: (r.pair_count, r.rnk)
        for r in queries()["llm_bpe_pair_counts"](spark, sf).collect()
    }
    assert out == expected


def test_countmin_matches_python_model_exactly(spark):
    """Full from-scratch reproduction of the registered count-min query on
    the real corpus: python computes the identical md5-derived buckets,
    bucket sums, and row-min estimates — pinning the WHOLE pipeline
    (hashing, fan-out, fold, min) against intent, not just one-sidedness."""
    import hashlib
    from collections import Counter, defaultdict

    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("text").collect()
    counts = Counter(w for r in docs for w in r.text.split(" "))

    def bucket(token, rw):
        hx = hashlib.md5(f"{token}:cm{rw}".encode()).hexdigest()
        return int(hx[:12], 16) % 256

    sketch = defaultdict(int)
    for t, c in counts.items():
        for rw in range(4):
            sketch[(rw, bucket(t, rw))] += c
    expected = {
        t: (c, min(sketch[(rw, bucket(t, rw))] for rw in range(4)))
        for t, c in counts.items()
    }

    out = queries()["llm_sketch_countmin"](spark, sf).collect()
    got = {r.token: (r.exact_count, r.cm_estimate) for r in out}
    assert got == expected


def test_kmv_estimate_matches_python_model_exactly(spark):
    """Same full reproduction for the KMV sketch: python recomputes the
    md5 hash space, the k-th order statistic, and the (k-1)*M // v_k
    estimate per event_type — and (since the r9 fold) for the ``(all)``
    rollup row, whose python model is simply the global sketch over the
    union of all users (sketch mergeability makes the merged per-type
    sketches land on exactly this)."""
    import hashlib

    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("event_type", "user_id")
        .filter("user_id IS NOT NULL")
        .collect()
    )
    groups = {}
    for r in ev:
        groups.setdefault(r.event_type, set()).add(r.user_id)
    if groups:
        groups["(all)"] = set().union(*groups.values())
    K, M = 64, 16**12
    expected = {}
    for et, users in groups.items():
        hashes = sorted(hashlib.md5(str(u).encode()).hexdigest() for u in users)
        n = len(hashes)
        if n < K:
            est = n
        else:
            v = int(hashes[K - 1][:12], 16)
            est = ((K - 1) * M) // max(v, 1)
        expected[et] = (n, est)

    out = queries()["llm_sketch_kmv_distinct"](spark, sf).collect()
    got = {r.event_type: (r.exact_distinct, r.kmv_estimate) for r in out}
    assert got == expected


def test_fingerprint_matches_python_model_exactly(spark):
    """From-scratch reproduction of the document fingerprint (ASCII case
    fold -> whitespace collapse -> trim -> md5) on the real corpus."""
    import hashlib
    import re as _re

    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    tbl = str.maketrans(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
    )
    expected = {
        r.doc_id: hashlib.md5(
            _re.sub(r"[ \t\n\f\r]+", " ", r.text.translate(tbl)).strip().encode()
        ).hexdigest()
        for r in rows
    }
    out = queries()["llm_text_fingerprint"](spark, sf).collect()
    got = {r.doc_id: r.fingerprint for r in out}
    assert got == expected


def test_minhash_lsh_matches_python_model_exactly(spark):
    """Full from-scratch reproduction of the MinHash-LSH near-dup pipeline
    on the real corpus: python recomputes shingles, the K=12 md5-seeded
    minhash signature (lexicographic hex min), the 4x3 band buckets, the
    candidate pairs with shared-band counts, and the exact-Jaccard verify
    — pinning every stage of the flagship dedup against intent."""
    import hashlib

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.operators.minhash import (
        MINHASH_B,
        MINHASH_K,
        MINHASH_R,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def md5hex(s):
        return hashlib.md5(s.encode()).hexdigest()

    shingles, bands = {}, {}
    for r in rows:
        t = r.text.split(" ")
        idx = range(0, max(len(t) - 3, 0) + 1)
        sh = {" ".join(x for x in t[i : i + 3] if x is not None) for i in idx}
        shingles[r.doc_id] = sh
        sig = [min(md5hex(f"{i}:{s}") for s in sh) for i in range(MINHASH_K)]
        bands[r.doc_id] = [
            md5hex("".join(sig[MINHASH_R * j + k] for k in range(MINHASH_R)))
            for j in range(MINHASH_B)
        ]

    ids = sorted(bands)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = sum(1 for j in range(MINHASH_B) if bands[a][j] == bands[b][j])
            if shared:
                inter = len(shingles[a] & shingles[b])
                union = len(shingles[a]) + len(shingles[b]) - inter
                expected[(a, b)] = (shared, inter, (1000 * inter) // union)

    out = queries()["llm_dedup_minhash_lsh"](spark, sf).collect()
    got = {
        (r.doc_a, r.doc_b): (r.shared_bands, r.inter_ct, r.jaccard_permille)
        for r in out
    }
    assert got == expected and got


def test_pii_redact_matches_python_model_exactly(spark):
    """Three-engine regex agreement: python `re` reproduces the PII scrub
    (injection, per-class counts, sequential replacement, redacted md5)
    that Spark's java.util.regex and DuckDB's RE2 already hash-match —
    the patterns were designed for the common subset of all three."""
    import hashlib
    import re as _re

    from gmall_flink_realtime4_spark.plans.text_queries import (
        PII_EMAIL,
        PII_IP,
        PII_PHONE,
    )
    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    expected = {}
    for r in rows:
        did = r.doc_id
        k = did % 4
        if k == 0:
            t = f"{r.text} contact user{did}@example.com today"
        elif k == 1:
            t = (
                f"{r.text} call 555-{str(did % 1000).rjust(3, '0')}"
                f"-{str(did % 10000).rjust(4, '0')}"
            )
        elif k == 2:
            t = f"{r.text} from 10.{did % 256}.{(did // 256) % 256}.1"
        else:
            t = r.text
        counts = []
        for pat, tag in (
            (PII_EMAIL, "<EMAIL>"),
            (PII_PHONE, "<PHONE>"),
            (PII_IP, "<IP>"),
        ):
            counts.append(len(_re.findall(pat, t)))
            t = _re.sub(pat, tag, t)
        expected[did] = (
            *counts,
            len(t.encode()),
            hashlib.md5(t.encode()).hexdigest(),
        )

    out = queries()["llm_pii_redact"](spark, sf).collect()
    got = {
        r.doc_id: (r.n_emails, r.n_phones, r.n_ips, r.redacted_len, r.redacted_md5)
        for r in out
    }
    assert got == expected


def test_simhash_matches_python_model_exactly(spark):
    """From-scratch SimHash: python recomputes the 64-bit (16 hex digit)
    Charikar fingerprint — per-token md5-prefix hash, frequency-weighted
    ±1 bit votes, sign rounding — for every real document."""
    import hashlib

    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    expected = {}
    for r in rows:
        votes = [0] * 64  # votes[4*p + b] for hex position p, bit b
        for tok in r.text.split(" "):
            h = hashlib.md5(tok.encode()).hexdigest()[:16]
            for p in range(16):
                v = int(h[p], 16)
                for b in range(4):
                    votes[4 * p + b] += 1 if (v >> b) & 1 else -1
        digits = []
        for p in range(16):
            dv = sum(
                (1 << b) for b in range(4) if votes[4 * p + b] > 0
            )
            digits.append(format(dv, "x"))
        expected[r.doc_id] = "".join(digits)

    out = queries()["llm_dedup_simhash"](spark, sf).collect()
    got = {r.doc_id: r.simhash64 for r in out}
    assert got == expected


def test_cosine_topk_matches_python_model_exactly(spark):
    """From-scratch reproduction of the decimal-exact brute-force cosine
    top-k: python requantizes every float element to DECIMAL(9,7)
    (integer e7-units, ROUND_HALF_UP — Spark's double->decimal mode),
    folds exact integer dot products, converts through correctly-rounded
    float(Fraction), and reranks. Pins the entire numeric ladder the ANN
    family (ivf/pq/cells) shares."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()

    def q7(x):  # exact double value -> e7-unit int, half-up
        return int(
            (Decimal(float(x)) * (10**7)).quantize(Decimal(1), ROUND_HALF_UP)
        )

    vecs = {r.vec_id: [q7(x) for x in r.embedding] for r in rows}
    n2 = {i: sum(a * a for a in v) for i, v in vecs.items()}  # e14 units

    def cos_e9(i, j):
        dot_e14 = sum(a * b for a, b in zip(vecs[i], vecs[j]))
        dot_d = float(Fraction(dot_e14, 10**14))
        den = math.sqrt(
            float(Fraction(n2[i], 10**14)) * float(Fraction(n2[j], 10**14))
        )
        if den == 0.0:
            return None
        return math.floor(1e9 * dot_d / den)

    expected = {}
    for qid in [i for i in vecs if i < 8]:
        scored = [
            (cos_e9(qid, nid), nid) for nid in vecs if nid != qid
        ]
        scored = [(s, nid) for s, nid in scored if s is not None]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (s, nid) in enumerate(scored[:5], start=1):
            expected[(qid, nid)] = (rank, s)

    out = queries()["llm_ann_cosine_topk"](spark, sf).collect()
    got = {
        (r.query_vec_id, r.neighbor_vec_id): (r.rank, r.cos_sim_e9) for r in out
    }
    assert got == expected


def test_clusters_match_python_union_find_exactly(spark):
    """From-scratch reproduction of the near-dup clustering flagship:
    python rebuilds the LSH pair graph (already model-verified above),
    thresholds it, and runs union-find with min-id labels — the
    distributed label propagation must land on the identical components."""
    import hashlib

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.operators.minhash import (
        MINHASH_B,
        MINHASH_K,
        MINHASH_R,
    )
    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        DUP_CLUSTER_THRESHOLD_PM,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def md5hex(s):
        return hashlib.md5(s.encode()).hexdigest()

    shingles, bands = {}, {}
    for r in rows:
        t = r.text.split(" ")
        sh = {
            " ".join(t[i : i + 3]) for i in range(0, max(len(t) - 3, 0) + 1)
        }
        shingles[r.doc_id] = sh
        sig = [min(md5hex(f"{i}:{s}") for s in sh) for i in range(MINHASH_K)]
        bands[r.doc_id] = [
            md5hex("".join(sig[MINHASH_R * j + k] for k in range(MINHASH_R)))
            for j in range(MINHASH_B)
        ]

    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
            parent.setdefault(lo, lo)

    ids = sorted(bands)
    nodes = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if any(bands[a][j] == bands[b][j] for j in range(MINHASH_B)):
                inter = len(shingles[a] & shingles[b])
                union_ct = len(shingles[a]) + len(shingles[b]) - inter
                if (1000 * inter) // union_ct >= DUP_CLUSTER_THRESHOLD_PM:
                    union(a, b)
                    nodes.update((a, b))
    expected = {n: find(n) for n in nodes}

    out = queries()["llm_dedup_clusters"](spark, sf).collect()
    got = {r.doc_id: r.cluster_id for r in out}
    assert got == expected and got


def test_embedding_cells_match_python_model_exactly(spark):
    """From-scratch reproduction of the SemDeDup embedding-cells flagship:
    python recomputes the sqrt(N) coarse quantizer (decimal-exact centroid
    scores via int64 e14 dots), the (ce9 DESC, cid ASC) top-2 probe cells,
    the home-cell emission rule (a<b candidate iff home(b) in probes(a)),
    and the thresholded exact cosine — triangulating the compressed
    production path against intent on the real corpus (the compressed ==
    uncompressed equality is already pinned separately)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    import numpy as np

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        CELLS_NPROBE,
        IVF_N_CENTROIDS,
        NEARDUP_THRESHOLD_E9,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()

    def q7(x):
        return int(
            (Decimal(float(x)) * (10**7)).quantize(Decimal(1), ROUND_HALF_UP)
        )

    ids = sorted(r.vec_id for r in rows)
    V = np.array(
        [[q7(x) for x in r.embedding] for r in sorted(rows, key=lambda r: r.vec_id)],
        dtype=np.int64,
    )
    pos = {vid: i for i, vid in enumerate(ids)}
    n2 = (V.astype(object) * V.astype(object)).sum(axis=1)  # exact python ints
    assert all(int(v) > 0 for v in n2), "zero-norm vector would need NULL path"

    def cos_e9(dot_e14, na, nb):
        den = math.sqrt(
            float(Fraction(int(na), 10**14)) * float(Fraction(int(nb), 10**14))
        )
        return math.floor(1e9 * float(Fraction(int(dot_e14), 10**14)) / den)

    N = len(ids)
    k = max(IVF_N_CENTROIDS, math.floor(math.sqrt(N)))
    cent_ids = [vid for vid in ids if vid < k]
    C = V[[pos[c] for c in cent_ids]]
    S = V.astype(object) @ C.astype(object).T  # exact e14 dots

    probes, home = {}, {}
    for vid in ids:
        scored = [
            (cos_e9(S[pos[vid]][j], n2[pos[vid]], n2[pos[c]]), c)
            for j, c in enumerate(cent_ids)
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        cells = [c for _, c in scored[:CELLS_NPROBE]]
        probes[vid], home[vid] = cells, cells[0]

    members_by_home = {}
    for vid in ids:
        members_by_home.setdefault(home[vid], []).append(vid)

    expected = {}
    for a in ids:
        for cell in probes[a]:
            for b in members_by_home.get(cell, ()):
                if a < b:
                    d = int((V[pos[a]].astype(object) * V[pos[b]].astype(object)).sum())
                    s = cos_e9(d, n2[pos[a]], n2[pos[b]])
                    if s >= NEARDUP_THRESHOLD_E9:
                        expected[(a, b)] = s

    out = queries()["llm_dedup_embedding_cells"](spark, sf).collect()
    got = {(r.vec_a, r.vec_b): r.cos_sim_e9 for r in out}
    assert got == expected


def test_ann_ivf_matches_python_model_exactly(spark):
    """From-scratch reproduction of the IVF ANN query: python recomputes
    the 16-centroid coarse quantizer, per-query top-2 probe cells, the
    home-cell candidate rule (neighbor's top-1 cell probed by the query,
    self excluded), the decimal-exact rerank, and the (cos DESC, id ASC)
    top-5 — completing the model coverage of the ANN family's
    probe/rerank semantics."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    import numpy as np

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        ANN_N_QUERIES,
        IVF_NPROBE,
        IVF_N_CENTROIDS,
        IVF_TOPK,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()

    def q7(x):
        return int(
            (Decimal(float(x)) * (10**7)).quantize(Decimal(1), ROUND_HALF_UP)
        )

    ids = sorted(r.vec_id for r in rows)
    V = np.array(
        [[q7(x) for x in r.embedding] for r in sorted(rows, key=lambda r: r.vec_id)],
        dtype=np.int64,
    )
    pos = {vid: i for i, vid in enumerate(ids)}
    Vo = V.astype(object)
    n2 = (Vo * Vo).sum(axis=1)

    def cos_e9(dot_e14, na, nb):
        den = math.sqrt(
            float(Fraction(int(na), 10**14)) * float(Fraction(int(nb), 10**14))
        )
        return math.floor(1e9 * float(Fraction(int(dot_e14), 10**14)) / den)

    cent_ids = [vid for vid in ids if vid < IVF_N_CENTROIDS]
    S = Vo @ Vo[[pos[c] for c in cent_ids]].T

    def top_cells(vid, n):
        scored = [
            (cos_e9(S[pos[vid]][j], n2[pos[vid]], n2[pos[c]]), c)
            for j, c in enumerate(cent_ids)
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [c for _, c in scored[:n]]

    home = {vid: top_cells(vid, 1)[0] for vid in ids}
    expected = {}
    for qid in [i for i in ids if i < ANN_N_QUERIES]:
        probed = set(top_cells(qid, IVF_NPROBE))
        cands = [b for b in ids if b != qid and home[b] in probed]
        scored = [
            (
                cos_e9(
                    int((Vo[pos[qid]] * Vo[pos[b]]).sum()),
                    n2[pos[qid]],
                    n2[pos[b]],
                ),
                b,
            )
            for b in cands
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (s, b) in enumerate(scored[:IVF_TOPK], start=1):
            expected[(qid, b)] = (rank, s)

    out = queries()["llm_ann_ivf"](spark, sf).collect()
    got = {
        (r.query_vec_id, r.neighbor_vec_id): (r.rank, r.cos_sim_e9) for r in out
    }
    assert got == expected


@given(seed=st.integers(0, 10**6), n_batches=st.integers(1, 5))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_incremental_minhash_batch_boundary_invariance(
    spark, tmp_path_factory, seed, n_batches
):
    """The incremental near-dup index must emit the SAME total pair set
    under ANY partition of the corpus into micro-batches — hypothesis
    chooses the batch count and a seeded assignment of docs to batches
    (including skewed/empty batches), the foreachBatch body is driven
    directly, and the union of emissions is compared to the one-shot
    batch query."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_minhash_pairs,
    )

    sf = "/root/testdata/sf0.001"
    cols = ["doc_a", "doc_b", "shared_bands", "inter_ct", "jaccard_permille"]
    expected = sorted(
        tuple(r[c] for c in cols)
        for r in queries()["llm_dedup_minhash_lsh"](spark, sf).collect()
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    state = str(tmp_path_factory.mktemp("mh_state_prop"))
    emitted = []
    for bid in range(n_batches):
        bdf = docs.filter(
            F.pmod(F.xxhash64(F.col("doc_id") + seed), F.lit(n_batches)) == bid
        )
        out = incremental_minhash_pairs(spark, bdf, state, batch_id=bid)
        emitted.extend(tuple(r[c] for c in cols) for r in out.collect())
    assert sorted(emitted) == expected and expected


def test_pq_encode_matches_python_model_exactly(spark):
    """From-scratch reproduction of the PQ encoder: python recomputes the
    8x8 subspace split, the exact-decimal squared L2 to every codeword
    (integer e14 units), the (d2, cid) argmin per subspace, the assembled
    code string, and the e9-scaled reconstruction error."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.operators.pq import PQ_D, PQ_K, PQ_M

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()

    def q7(x):
        return int(
            (Decimal(float(x)) * (10**7)).quantize(Decimal(1), ROUND_HALF_UP)
        )

    vecs = {r.vec_id: [q7(x) for x in r.embedding] for r in rows}

    def sub(v, m):
        return v[m * PQ_D : (m + 1) * PQ_D]

    cb = {
        m: {cid: sub(vecs[cid], m) for cid in vecs if cid < PQ_K}
        for m in range(PQ_M)
    }
    expected = {}
    for vid, v in vecs.items():
        codes, err_e14 = [], 0
        for m in range(PQ_M):
            sv = sub(v, m)
            best = min(
                (sum((a - c) ** 2 for a, c in zip(sv, cv)), cid)
                for cid, cv in cb[m].items()
            )
            codes.append(str(best[1]))
            err_e14 += best[0]
        qerr = math.floor(1e9 * float(Fraction(err_e14, 10**14)))
        expected[vid] = ("-".join(codes), qerr)

    out = queries()["llm_ann_pq_encode"](spark, sf).collect()
    got = {r.vec_id: (r.pq_code, r.qerr_e9) for r in out}
    assert got == expected


def test_pq_trained_adc_recall_matches_python_model_exactly(spark):
    """From-scratch reproduction of the FULL r11 ADC recall query: the
    seed / 1-Lloyd / 2-Lloyd flat-PQ recall curve AND the composed
    IVF-PQ path (coarse cell assignment, re-offset residuals, residual
    codebook seeded from vec ids [C, C+K) with 2 Lloyd steps, cell-probed
    ADC). Every arithmetic step is exact integers in the offset space
    (python's non-negative // equals Spark's div and DuckDB's //), so the
    assert is equality, not tolerance."""
    from decimal import ROUND_HALF_UP, Decimal

    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.operators.pq import (
        PQ_D,
        PQ_K,
        PQ_M,
        PQ_OFF_INT,
    )
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        ADC_NQ,
        ADC_TOPK,
        IVFPQ_C,
        IVFPQ_NPROBE,
        IVFPQ_NPROBES,
        PQ_RES_OFF,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()

    def q7(x):
        return int(
            (Decimal(float(x)) * (10**7)).quantize(Decimal(1), ROUND_HALF_UP)
        )

    # offset-int space throughout: xi = q7(x) + 1e9 > 0
    ov = {
        r.vec_id: [q7(x) + PQ_OFF_INT for x in r.embedding] for r in rows
    }

    def sub(v, m):
        return v[m * PQ_D : (m + 1) * PQ_D]

    def sqd(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def assign(frames, cb):
        """frames: vid -> full vector; cb: m -> cid -> subvector."""
        return {
            (vid, m): min(
                (sqd(sub(v, m), cv), cid) for cid, cv in cb[m].items()
            )[1]
            for vid, v in frames.items()
            for m in range(PQ_M)
        }

    def train(frames, codes):
        members = {}
        for (vid, m), cid in codes.items():
            members.setdefault((m, cid), []).append(sub(frames[vid], m))
        cb = {m: {} for m in range(PQ_M)}
        for (m, cid), mm in members.items():
            cb[m][cid] = [
                sum(v[j] for v in mm) // len(mm) for j in range(PQ_D)
            ]
        return cb

    def adc_top(codes, cb, qv, qid, cand):
        dtab = {
            (m, cid): sqd(sub(qv, m), cv)
            for m in range(PQ_M)
            for cid, cv in cb[m].items()
        }
        scored = (
            (sum(dtab[(m, codes[(vid, m)])] for m in range(PQ_M)), vid)
            for vid in cand
            if vid != qid
        )
        return {v for _, v in sorted(scored)[:ADC_TOPK]}

    # flat-PQ recall curve: seed, 1 Lloyd step, 2 Lloyd steps
    cb0 = {
        m: {cid: sub(ov[cid], m) for cid in ov if cid < PQ_K}
        for m in range(PQ_M)
    }
    a0 = assign(ov, cb0)
    cb1 = train(ov, a0)
    a1 = assign(ov, cb1)
    cb2 = train(ov, a1)
    a2 = assign(ov, cb2)

    # IVF-PQ: coarse cells, residuals, residual codebook, probed ADC
    cells = {c: ov[c] for c in ov if c < IVFPQ_C}
    crank = {
        vid: [c for _, c in sorted((sqd(v, cv), c) for c, cv in cells.items())]
        for vid, v in ov.items()
    }
    cell_of = {vid: r[0] for vid, r in crank.items()}
    res = {
        vid: [
            x - c + PQ_RES_OFF for x, c in zip(v, cells[cell_of[vid]])
        ]
        for vid, v in ov.items()
    }
    rcb0 = {
        m: {
            vid - IVFPQ_C: sub(res[vid], m)
            for vid in res
            if IVFPQ_C <= vid < IVFPQ_C + PQ_K
        }
        for m in range(PQ_M)
    }
    ra0 = assign(res, rcb0)
    rcb1 = train(res, ra0)
    ra1 = assign(res, rcb1)
    rcb2 = train(res, ra1)
    ra2 = assign(res, rcb2)

    expected = {}
    for qid in range(ADC_NQ):
        qv = ov[qid]
        exact = {
            v
            for _, v in sorted(
                (sqd(qv, v), vid) for vid, v in ov.items() if vid != qid
            )[:ADC_TOPK]
        }
        t0 = adc_top(a0, cb0, qv, qid, ov)
        t1 = adc_top(a1, cb1, qv, qid, ov)
        t2 = adc_top(a2, cb2, qv, qid, ov)
        # IVF-PQ: candidates confined to the probed cells; the distance
        # table is per probed cell (query residual differs per cell).
        # One top-k per nprobe operating point (r12 curve columns).
        def ivf_top(np):
            probed = crank[qid][:np]
            dt = {}
            for cell in probed:
                rq = [x - c + PQ_RES_OFF for x, c in zip(qv, cells[cell])]
                for m in range(PQ_M):
                    for cid, cv in rcb2[m].items():
                        dt[(cell, m, cid)] = sqd(sub(rq, m), cv)
            iscored = (
                (
                    sum(
                        dt[(cell_of[vid], m, ra2[(vid, m)])]
                        for m in range(PQ_M)
                    ),
                    vid,
                )
                for vid in ov
                if vid != qid and cell_of[vid] in probed
            )
            return {v for _, v in sorted(iscored)[:ADC_TOPK]}

        tis = {np: ivf_top(np) for np in IVFPQ_NPROBES}
        h0, h1, h2 = len(exact & t0), len(exact & t1), len(exact & t2)
        hi1, hi, hi4 = (
            len(exact & tis[1]),
            len(exact & tis[IVFPQ_NPROBE]),
            len(exact & tis[4]),
        )
        expected[qid] = (
            ADC_TOPK,
            h0,
            h1,
            h2,
            hi1,
            hi,
            hi4,
            (1000 * h0) // ADC_TOPK,
            (1000 * h1) // ADC_TOPK,
            (1000 * h2) // ADC_TOPK,
            (1000 * hi1) // ADC_TOPK,
            (1000 * hi) // ADC_TOPK,
            (1000 * hi4) // ADC_TOPK,
        )

    out = queries()["llm_ann_pq_adc_recall"](spark, sf).collect()
    got = {
        r.qid: (
            r.k,
            r.hits_seed,
            r.hits_t1,
            r.hits_t2,
            r.hits_ivfpq_np1,
            r.hits_ivfpq,
            r.hits_ivfpq_np4,
            r.recall_seed_pm,
            r.recall_t1_pm,
            r.recall_t2_pm,
            r.recall_ivfpq_np1_pm,
            r.recall_ivfpq_pm,
            r.recall_ivfpq_np4_pm,
        )
        for r in out
    }
    assert got == expected


def test_split_and_mix_match_python_model_exactly(spark):
    """From-scratch reproduction of the two md5-threshold sampling ops:
    the 90/5/5 split (hash of doc_id||':split' vs per-mille thresholds)
    and the temperature-sampled domain mixture (integer sqrt-weight
    rates, hash of doc_id||':mix' acceptance) — the reproducible-sampling
    family that replaces RNG state."""
    import hashlib
    import math

    from gmall_flink_realtime4_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang", "source", "text", "n_chars"
    ).collect()
    M = 16**12

    def hv(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    # --- split ---
    agg = {}
    for r in rows:
        u = hv(f"{r.doc_id}:split")
        split = (
            "train" if u * 1000 < 900 * M else "val" if u * 1000 < 950 * M else "test"
        )
        k = (split, r.lang)
        n, t = agg.get(k, (0, 0))
        agg[k] = (n + 1, t + len(r.text.split(" ")))
    out = queries()["llm_split_train_val_test"](spark, sf).collect()
    got = {(r.split, r.lang): (r.n_docs, r.total_tokens) for r in out}
    assert got == agg

    # --- mix ---
    counts = {}
    for r in rows:
        counts[r.source] = counts.get(r.source, 0) + 1
    w = {s: math.floor(math.sqrt(float(n)) * 1000000.0) for s, n in counts.items()}
    total_docs, sum_w = sum(counts.values()), sum(w.values())
    rates = {
        s: min(1000, (1000 * (((total_docs // 2) * w[s]) // sum_w)) // counts[s])
        for s in counts
    }
    sampled = {}
    for r in rows:
        if hv(f"{r.doc_id}:mix") % 1000 < rates[r.source]:
            n, c = sampled.get(r.source, (0, 0))
            sampled[r.source] = (n + 1, c + r.n_chars)
    expected_mix = {
        s: (counts[s], rates[s], *sampled.get(s, (0, 0))) for s in counts
    }
    out2 = queries()["llm_mix_domains"](spark, sf).collect()
    got2 = {
        r.source: (r.n_docs, r.rate_permille, r.n_sampled, r.sampled_chars)
        for r in out2
    }
    assert got2 == expected_mix


def test_pack_sequences_matches_python_model_exactly(spark):
    """From-scratch reproduction of the sequence packer: python computes
    the plain sequential prefix sum over doc_id order and the SEQ_LEN
    chunk assignment — the distributed two-phase bucket prefix sum must
    land every doc in the identical chunk."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import SEQ_LEN

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    chunks = {}
    cum = 0
    for r in sorted(rows, key=lambda r: r.doc_id):
        n = len(r.text.split(" "))
        cid = cum // SEQ_LEN
        nd, ct, fd, ld = chunks.get(cid, (0, 0, r.doc_id, r.doc_id))
        chunks[cid] = (nd + 1, ct + n, min(fd, r.doc_id), max(ld, r.doc_id))
        cum += n

    out = queries()["llm_pack_sequences"](spark, sf).collect()
    got = {
        r.chunk_id: (r.n_docs, r.chunk_tokens, r.first_doc, r.last_doc)
        for r in out
    }
    assert got == chunks


def test_decontaminate_matches_python_model_exactly(spark):
    """From-scratch reproduction of eval-set decontamination: python
    rebuilds the shingle sets, the mod-97 eval/train partition, and the
    per-train-doc shared-shingle / eval-partner counts with the >= 5
    contamination flag."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        DECON_EVAL_MOD,
        DECON_MIN_SHARED,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    shingles = {}
    for r in rows:
        t = r.text.split(" ")
        shingles[r.doc_id] = {
            " ".join(t[i : i + 3]) for i in range(0, max(len(t) - 3, 0) + 1)
        }
    eval_ids = [d for d in shingles if d % DECON_EVAL_MOD == 0]
    inv = {}
    for e in eval_ids:
        for s in shingles[e]:
            inv.setdefault(s, set()).add(e)

    expected = {}
    for d, sh in shingles.items():
        if d % DECON_EVAL_MOD == 0:
            continue
        shared = {s for s in sh if s in inv}
        if shared:
            partners = set().union(*(inv[s] for s in shared))
            expected[d] = (
                len(shared),
                len(partners),
                int(len(shared) >= DECON_MIN_SHARED),
            )

    out = queries()["llm_decontaminate"](spark, sf).collect()
    got = {
        r.doc_id: (r.n_shared_shingles, r.n_eval_partners, r.contaminated)
        for r in out
    }
    assert got == expected


def test_chunk_dedup_matches_python_model_exactly(spark):
    """From-scratch reproduction of sub-document chunk dedup: python
    splits each real doc into aligned 10-token chunks, picks the global
    min-(doc_id, chunk_idx) keeper per chunk text, and accounts kept
    tokens / duplicate chunks per doc."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.dedup_queries import CHUNK_TOKENS

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    occurrences = {}  # chunk_text -> keeper (doc_id, chunk_idx)
    per_doc = {}  # doc_id -> [(chunk_idx, chunk_text)]
    for r in rows:
        t = r.text.split(" ")
        n = (len(t) + CHUNK_TOKENS - 1) // CHUNK_TOKENS
        cl = []
        for i in range(n):
            ct = " ".join(t[i * CHUNK_TOKENS : (i + 1) * CHUNK_TOKENS])
            cl.append((i, ct))
            k = occurrences.get(ct)
            if k is None or (r.doc_id, i) < k:
                occurrences[ct] = (r.doc_id, i)
        per_doc[r.doc_id] = cl

    expected = {}
    for did, cl in per_doc.items():
        n_dup = sum(1 for i, ct in cl if occurrences[ct] != (did, i))
        kept = sum(
            len(ct.split(" ")) for i, ct in cl if occurrences[ct] == (did, i)
        )
        expected[did] = (len(cl), n_dup, kept)

    out = queries()["llm_chunk_dedup"](spark, sf).collect()
    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks, r.kept_tokens) for r in out}
    assert got == expected


def test_containment_matches_python_model_exactly(spark):
    """From-scratch reproduction of asymmetric shingle containment: python
    rebuilds the distinct 3-gram sets, the shared-shingle candidate pairs,
    and the per-mille containment scores with the >= 800 either-side
    emission rule."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.dedup_queries import CONTAIN_PM_MIN

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    shingles = {}
    inv = {}
    for r in rows:
        t = r.text.split(" ")
        sh = {
            " ".join(t[i : i + 3]) for i in range(0, max(len(t) - 3, 0) + 1)
        }
        shingles[r.doc_id] = sh
        for s in sh:
            inv.setdefault(s, []).append(r.doc_id)

    inter = {}
    for s, docs in inv.items():
        docs = sorted(docs)
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                inter[(a, b)] = inter.get((a, b), 0) + 1

    expected = {}
    for (a, b), n in inter.items():
        na, nb = len(shingles[a]), len(shingles[b])
        ca, cb = (1000 * n) // na, (1000 * n) // nb
        if ca >= CONTAIN_PM_MIN or cb >= CONTAIN_PM_MIN:
            expected[(a, b)] = (n, na, nb, ca, cb)

    out = queries()["llm_dedup_containment"](spark, sf).collect()
    got = {
        (r.doc_a, r.doc_b): (
            r.n_common,
            r.n_sh_a,
            r.n_sh_b,
            r.contain_a_pm,
            r.contain_b_pm,
        )
        for r in out
    }
    assert got == expected


# ---------------------------------------------------------------------------
# round-6 operator properties
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
DOC = st.lists(st.sampled_from(_WORDS), min_size=6, max_size=20)


@given(
    doc_a=DOC,
    doc_b=DOC,
    run=st.lists(st.sampled_from(_WORDS), min_size=6, max_size=10),
    pos=st.integers(0, 20),
)
@settings(**PROP_SETTINGS)
def test_winnowing_guarantee_shared_run_shares_fingerprint(
    spark, doc_a, doc_b, run, pos
):
    """The MOSS guarantee: any shared token run of length >= w+k-1 = 6
    contains at least one COMPLETE window of k-gram hashes, identical in
    both docs, so both select its minimum — a shared fingerprint is
    structurally guaranteed, for every plant position."""
    from gmall_flink_realtime4_spark.plans.dedup_queries import (
        winnow_fingerprint_rows,
    )

    ta = doc_a[: pos % (len(doc_a) + 1)] + run + doc_a[pos % (len(doc_a) + 1):]
    tb = doc_b[len(doc_b) - (pos % (len(doc_b) + 1)):] + run + doc_b[
        : len(doc_b) - (pos % (len(doc_b) + 1))
    ]
    df = spark.createDataFrame(
        [(0, " ".join(ta)), (1, " ".join(tb))], "doc_id long, text string"
    )
    fp = {
        (r["doc_id"], r["f"])
        for r in winnow_fingerprint_rows(df).collect()
    }
    a = {f for d, f in fp if d == 0}
    b = {f for d, f in fp if d == 1}
    assert a & b, "planted shared run must yield a shared fingerprint"


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s1", "s2"]), st.sampled_from(_WORDS)),
        min_size=1,
        max_size=30,
    ),
    dup_mask=st.lists(st.booleans(), min_size=30, max_size=30),
)
@settings(**PROP_SETTINGS)
def test_hll_registers_invariant_under_duplication(spark, rows, dup_mask):
    """At-least-once delivery cannot move an HLL estimate: duplicating
    any subset of the keyed rows leaves every register — and therefore
    the estimate — bit-identical (MAX absorbs duplicates; the property
    the sketch's no-distinct-pass design rests on)."""
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        hll_register_partials,
    )

    base = spark.createDataFrame(rows, "grp string, key string")
    duped_rows = rows + [r for r, m in zip(rows, dup_mask) if m]
    duped = spark.createDataFrame(duped_rows, "grp string, key string")
    reg = lambda d: {  # noqa: E731
        (r["grp"], r["bucket"], r["r"])
        for r in hll_register_partials(d).collect()
    }
    assert reg(base) == reg(duped)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["hash", "join", "order", "window", "scan", "x", "y"]
            ),
            min_size=1,
            max_size=15,
        ),
        min_size=1,
        max_size=8,
    ),
    seed=st.integers(0, 10**6),
)
@settings(**PROP_SETTINGS)
def test_bm25_is_bag_of_words(spark, docs, seed):
    """BM25 is a bag-of-words score: shuffling the tokens inside every
    document changes nothing (tf/dl/df/N/avgdl are all order-free), so
    the full top-K output is identical."""
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        bm25_query_frame,
        bm25_score_topk,
        bm25_tf_rows,
    )
    import pyspark.sql.functions as FF

    rng = random.Random(seed)
    shuffled = [list(d) for d in docs]
    for d in shuffled:
        rng.shuffle(d)

    def run(token_lists):
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(token_lists)],
            "doc_id long, text string",
        )
        g = df.select(
            FF.count(FF.lit(1)).cast("bigint").alias("n"),
            FF.sum(FF.size(FF.split("text", " "))).cast("bigint").alias("a"),
        )
        out = bm25_score_topk(bm25_tf_rows(df), g, bm25_query_frame(spark))
        return {
            (r["query_id"], r["rnk"]): (
                r["doc_id"], r["score_ppb"], r["n_terms_hit"]
            )
            for r in out.collect()
        }

    assert run(docs) == run(shuffled)


# ---------------------------------------------------------------------------
# round-7 cores: skyline / reservoir merge (the algebraic collapses a
# refactor could silently break; hypothesis shrinks to minimal
# counterexamples where fixed-seed trials cannot)
# ---------------------------------------------------------------------------

PT = st.tuples(st.integers(0, 8), st.integers(0, 8))  # tight range => ties


@given(pts=st.lists(PT, min_size=1, max_size=20))
@settings(**PROP_SETTINGS)
def test_skyline_collapse_equals_quadratic_spec(spark, pts):
    """2-D sort-filter skyline == quadratic NOT-EXISTS dominance spec on
    arbitrary point sets — duplicate coordinates (forced by the tight
    value range) exercise the same-revenue-class and all-ties-survive
    rules every shrink."""
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        pareto_frontier_2d,
    )

    rows = [(i, r, q) for i, (r, q) in enumerate(pts)]
    df = spark.createDataFrame(
        [(k, str(r), str(q)) for k, r, q in rows],
        "s_suppkey long, rev_s string, qty_s string",
    ).select(
        "s_suppkey",
        F.col("rev_s").cast("decimal(18,2)").alias("rev"),
        F.col("qty_s").cast("decimal(18,2)").alias("qty"),
    )
    got = sorted(
        (r["s_suppkey"], int(r["rev"]), int(r["qty"]))
        for r in pareto_frontier_2d(df).collect()
    )
    want = sorted(
        p
        for p in rows
        if not any(
            q[1] >= p[1] and q[2] >= p[2] and (q[1] > p[1] or q[2] > p[2])
            for q in rows
        )
    )
    assert got == want


@given(
    ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
    k=st.integers(1, 12),
    n_batches=st.integers(1, 4),
    seed=st.integers(0, 10**6),
)
@settings(**PROP_SETTINGS)
def test_reservoir_merge_invariant_to_batching(spark, ids, k, n_batches, seed):
    """Distributed reservoir merge: however documents are partitioned into
    batches (including empty batches and k > batch size), ranking the
    union of per-batch top-k survivor states equals the one-shot top-k."""
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        reservoir_finalize,
        reservoir_partials,
    )

    rng = random.Random(seed)
    assign = {i: rng.randrange(n_batches) for i in ids}
    d = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in ids], "doc_id long, source string"
    )
    parts = None
    for b in range(n_batches):
        bdf = d.filter(
            F.col("doc_id").isin([i for i in ids if assign[i] == b] or [-1])
        )
        p = reservoir_partials(bdf, k=k)
        parts = p if parts is None else parts.unionByName(p)
    got = [
        (r["rnk"], r["doc_id"], r["u"])
        for r in reservoir_finalize(parts, k=k).orderBy("rnk").collect()
    ]
    want = [
        (r["rnk"], r["doc_id"], r["u"])
        for r in reservoir_finalize(reservoir_partials(d, k=k), k=k)
        .orderBy("rnk")
        .collect()
    ]
    assert got == want and len(got) == min(k, len(ids))
