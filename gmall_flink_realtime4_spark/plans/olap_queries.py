"""Analytical (OLAP) operators and mergeable sketches beyond the warehouse.

- relational surface: bucketized range-band join, bloom-filter prefilter
  semi join, PIVOT / UNPIVOT, the analytic window suite, CUBE, top-N per
  group, set operations;
- event analytics: daily anomaly z-score, path transitions, DAU/WAU
  stickiness, event-type PageRank, market-basket co-occurrence lift;
- ``f_skyline_pareto_suppliers`` — the 2-D sort-filter skyline (one
  keyed agg, then a prefix max over the distinct-revenue frame, no
  O(N^2) self-join);
- ``f_zorder_layout_audit`` — z-order vs linear-sort file layout: per-file
  min/max spans a file-skipping planner prunes on;
- sketches: KMV distinct, histogram quantiles, count-min (d=4, w=256)
  and HyperLogLog, each with exact-vs-estimate honesty columns and
  lossless partial merges.

md5-hex values and the KMV sketch come from ``operators.hashing``. The
skyline and co-occurrence queries run their streaming twins' partials
and finalize (``finalize(partials(input))``), so batch and stream share
one path.

Determinism (catalog.py contract): money is DECIMAL inside aggregation
and DOUBLE at the boundary; ratios are integer per-mille with
non-negative operands at every ``div``; sketch estimates are exact
integer arithmetic in a pinned order, so both engines report the
identical estimate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.hashing import (
    hexv,
    hexval_sql,
    kmv_estimate,
    kmv_fold,
    kmv_sql,
    kmv_union,
)
from ..operators.minhash import is_trigram, shingle_sql, trigram_array
from ..tables import MONEY
from .catalog import query


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — deterministic cardinality
# estimation that hash-matches across engines (md5 is the random oracle,
# so both engines compute the IDENTICAL estimate — unlike HLL, whose
# register layouts differ per implementation).
# ---------------------------------------------------------------------------
@query(
    "llm_sketch_kmv_distinct",
    oracle=f"""
WITH h AS (
    SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
    FROM events WHERE user_id IS NOT NULL
), {kmv_sql("h", ["event_type"])}, exact AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS ex
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
), gh AS (
    SELECT DISTINCT hx FROM h
), {kmv_sql("gh", name="gkth")}, gexact AS (
    SELECT COUNT(DISTINCT user_id) AS ex
    FROM events WHERE user_id IS NOT NULL
)
SELECT e.event_type,
       CAST(e.ex AS BIGINT) AS exact_distinct,
       CAST(k.est AS BIGINT) AS kmv_estimate,
       CAST((1000 * abs(k.est - e.ex)) // e.ex AS BIGINT) AS err_permille
FROM exact e JOIN kth k ON e.event_type = k.event_type
UNION ALL
SELECT '(all)' AS event_type,
       CAST(e.ex AS BIGINT) AS exact_distinct,
       CAST(k.est AS BIGINT) AS kmv_estimate,
       CAST((1000 * abs(k.est - e.ex)) // e.ex AS BIGINT) AS err_permille
FROM gexact e, gkth k
""",
    tags=("llm-text", "sketch"),
)
def llm_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, per event_type PLUS
    the ``(all)`` rollup row, each with its own measured error against the
    exact count. Folded in round 9: the former ``llm_sketch_kmv_union``
    query is now the ``(all)`` row — the global estimate computed by
    MERGING the per-event_type sketches, never re-scanning raw keys
    (registry-freeze fold, the llm_ann_ivf_recall template).

    The mergeable-sketch pattern every 100 TB pipeline needs for distinct
    counting WITHOUT a full shuffle of the key universe: keep the k
    smallest hash values per group; estimate = (k-1) / v_k where v_k is
    the k-th smallest hash as a fraction of hash space (Bar-Yossef et al.
    2002, the theta-sketch ancestor). md5 makes the estimate DETERMINISTIC
    and engine-portable — the DuckDB oracle computes the identical number,
    which no HLL implementation guarantees.

    Scale shape — the k-min PARTIAL-AGGREGATE FOLD (r04, replacing the
    r02 per-group distinct-sort window, which single-threads on a hot
    event_type): hashes are salted by their own leading bits into
    ``KMV_SALT`` buckets (``operators.hashing.kmv_fold``, the one fold
    of every KMV sketch); each (group, salt) bucket folds its distinct
    hashes to ONE sorted k-prefix array via a map-side-combinable
    collect_set (buffer = bucket-local distinct set — sized by the salt
    fanout, never the group); the per-group merge then sorts at most
    salt x k values. Two shuffles total — (group, salt) then the tiny
    (group) merge — and no Window anywhere in the plan. The bucket
    distinct counts sum to the exact distinct-hash count n because the
    salt partitions the hash space.

    The ``(all)`` row is the mergeability proof: union(sketch_a, sketch_b)
    = k smallest of (kmin_a ∪ kmin_b), because every one of the global k
    smallest hashes is necessarily inside its own group's k-min set. The
    merge (``kmv_union``) input is G x k values (G = event types) and
    crucially DEDUPS the hash multiset (one user active in several types appears in
    several sketches). The oracle computes the identical estimate from
    the raw key universe; exact equality of the two paths is the proof.
    When the merged set holds fewer than k values it IS the exact union,
    so the estimate is exact. The group-sketch frame feeds BOTH output
    arms, is G x k values vs an events scan + two shuffles to derive —
    the CLAUDE.md localCheckpoint class — so it is checkpointed once.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(F.col("user_id").isNotNull())
    sketch = kmv_fold(
        e.select("event_type", F.md5(F.col("user_id").cast("string")).alias("hx")),
        ["event_type"],
    ).localCheckpoint()
    err = F.expr("cast((1000 * abs(kmv_estimate - ex)) div ex as bigint)")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("ex")
    )
    per_type = (
        exact.join(sketch, "event_type")
        .withColumn("kmv_estimate", kmv_estimate())
        .select(
            "event_type",
            F.col("ex").cast("bigint").alias("exact_distinct"),
            "kmv_estimate",
            err.alias("err_permille"),
        )
    )
    merged = (
        kmv_union(sketch)
        # an ungrouped agg emits one row even on EMPTY input; the oracle's
        # gkth CTE emits zero — filter the empty sketch out so both
        # engines return an empty result set
        .filter(F.col("n") > 0)
        .withColumn("jk", F.lit(1))
    )
    gexact = e.agg(F.countDistinct("user_id").alias("ex")).withColumn(
        "jk", F.lit(1)
    )
    all_row = (
        gexact.join(merged, "jk")  # 1-row x 1-row equi join on a constant key
        .withColumn("kmv_estimate", kmv_estimate())
        .select(
            F.lit("(all)").alias("event_type"),
            F.col("ex").cast("bigint").alias("exact_distinct"),
            "kmv_estimate",
            err.alias("err_permille"),
        )
    )
    return per_type.unionByName(all_row)


# ---------------------------------------------------------------------------
# Histogram quantile sketch — deterministic mergeable quantile estimation
# (the role t-digest plays at scale, in a form both engines compute
# identically: fixed-width bins are exact integer arithmetic, while
# t-digest/GK sketches are implementation-defined).
# ---------------------------------------------------------------------------
HIST_BIN_W = 8  # tokens per bin


@query(
    "llm_sketch_histogram_quantiles",
    oracle=f"""
WITH t AS (
    SELECT source, len(string_split(text, ' ')) AS n_tok FROM documents
), b AS (
    SELECT source, CAST(n_tok // {HIST_BIN_W} AS BIGINT) AS bin, COUNT(*) AS ct
    FROM t GROUP BY 1, 2
), c AS (
    SELECT source, bin, ct,
           SUM(ct) OVER (PARTITION BY source ORDER BY bin
                         ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(ct) OVER (PARTITION BY source) AS n
    FROM b
), q AS (
    SELECT source,
           MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN bin END) AS b50,
           MIN(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN bin END) AS b90
    FROM c GROUP BY 1
), ex AS (
    SELECT source,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok) AS BIGINT) AS p50,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_tok) AS BIGINT) AS p90
    FROM t GROUP BY 1
)
SELECT q.source,
       CAST(q.b50 * {HIST_BIN_W} + {HIST_BIN_W // 2} AS BIGINT) AS est_p50,
       CAST(q.b90 * {HIST_BIN_W} + {HIST_BIN_W // 2} AS BIGINT) AS est_p90,
       ex.p50 AS exact_p50,
       ex.p90 AS exact_p90,
       CAST((1000 * abs(q.b50 * {HIST_BIN_W} + {HIST_BIN_W // 2} - ex.p50))
            // greatest(ex.p50, 1) AS BIGINT) AS err50_permille,
       CAST((1000 * abs(q.b90 * {HIST_BIN_W} + {HIST_BIN_W // 2} - ex.p90))
            // greatest(ex.p90, 1) AS BIGINT) AS err90_permille
FROM q JOIN ex ON q.source = ex.source
""",
    tags=("llm-text", "sketch"),
)
def llm_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed-width histogram sketch, per source,
    with self-reported error against exact percentile_disc.

    The mergeable-quantile pattern for 100 TB (the role t-digest plays):
    per-partition bin counts merge by addition — one (source, bin) shuffle
    whose cardinality is values/bin_width, NOT rows — then the quantile is
    read off the cumulative histogram. Fixed-width integer bins keep the
    estimate DETERMINISTIC and engine-identical, which t-digest/GK cannot
    guarantee (their centroids are implementation-defined); error is
    bounded by bin_width/2 around each true quantile. The exact
    percentile_disc twin (llm_text_length_quantiles) is the small-data
    path; this is what it swaps to at scale.
    """
    t = T.load(spark, sf_dir, "documents", spread=False).select(
        "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    b = t.groupBy(
        "source", F.expr(f"cast(n_tok div {HIST_BIN_W} as bigint)").alias("bin")
    ).agg(F.count(F.lit(1)).alias("ct"))
    wc = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("source")
    c = b.withColumn("cum", F.sum("ct").over(wc)).withColumn(
        "n", F.sum("ct").over(wn)
    )
    q = c.groupBy("source").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(0.5 * F.col("n")), F.col("bin"))
        ).alias("b50"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.9 * F.col("n")), F.col("bin"))
        ).alias("b90"),
    )
    ex = t.groupBy("source").agg(
        F.expr(
            "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok) as bigint)"
        ).alias("exact_p50"),
        F.expr(
            "cast(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_tok) as bigint)"
        ).alias("exact_p90"),
    )
    half = HIST_BIN_W // 2
    est50 = (F.col("b50") * HIST_BIN_W + half).cast("bigint")
    est90 = (F.col("b90") * HIST_BIN_W + half).cast("bigint")
    return (
        q.join(ex, "source")
        .select(
            "source",
            est50.alias("est_p50"),
            est90.alias("est_p90"),
            "exact_p50",
            "exact_p90",
            F.expr(
                f"cast((1000 * abs(b50 * {HIST_BIN_W} + {half} - exact_p50))"
                " div greatest(exact_p50, 1) as bigint)"
            ).alias("err50_permille"),
            F.expr(
                f"cast((1000 * abs(b90 * {HIST_BIN_W} + {half} - exact_p90))"
                " div greatest(exact_p90, 1) as bigint)"
            ).alias("err90_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Unkeyed range join — bucketized band join (the generic non-equi pattern).
# ---------------------------------------------------------------------------
PRICE_BANDS = (
    ("b900", 900.0, 920.0),
    ("b920", 920.0, 950.0),
    ("b950", 950.0, 965.0),
    ("b965", 965.0, 980.0),
    ("b980", 980.0, 1000.0),
)
BAND_G = 10  # coarse-bucket width shared by both join sides
_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)


@query(
    "f_range_band_join",
    oracle=f"""
WITH bands(band, lo, hi) AS (VALUES {_BANDS_SQL})
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
       CAST(MIN(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
           AS min_cents,
       CAST(MAX(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
           AS max_cents
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY 1
""",
    tags=("func", "range-join"),
)
def f_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unkeyed range (band) join, bucketized: non-uniform [lo, hi) bands
    against a fact column with NO equi key.

    The naive plan is a non-equi theta join (BroadcastNestedLoop — every
    row against every band). The scale-safe rewrite: expand each band to
    the fixed-width coarse buckets it overlaps (``sequence(lo div G,
    (hi-ε) div G)``), key the fact rows by ``value div G``, EQUI-join on
    the bucket, then apply the exact [lo, hi) predicate. The theta join
    becomes a hash join whose fan-out is bands × buckets-per-band — works
    when BOTH sides are large (shuffle on bucket), degrades gracefully to
    broadcast when the band side is tiny (as here: Catalyst broadcasts the
    expanded 5-band table, so the whole join is map-side).
    """
    bands = spark.createDataFrame(
        list(PRICE_BANDS), "band string, lo double, hi double"
    ).withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / BAND_G),
                F.floor((F.col("hi") - 1e-9) / BAND_G),
            )
        ),
    )
    p = T.load(spark, sf_dir, "part", spread=False).withColumn(
        "bucket", F.floor(F.col("p_retailprice") / BAND_G)
    )
    cents = F.expr("cast(round(p_retailprice * 100) as bigint)")
    return (
        p.join(F.broadcast(bands), "bucket")
        .filter(
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi"))
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
            F.min(cents).cast("bigint").alias("min_cents"),
            F.max(cents).cast("bigint").alias("max_cents"),
        )
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
    return "(" + hexval_sql(hx_col, fn) + " % " + str(BLOOM_M) + ")"


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
# dws_event_anomaly_zscore — per-event-type daily-count z-scores. Sufficient
# statistics (n, sum, sum-of-squares) per type are exact integers; the only
# float steps are one division and one sqrt — both IEEE-correctly-rounded,
# so both engines produce bit-identical z values from identical integers.
# z is reported as floor(1000*z) (exact-integer boundary only at z==0).
#
# Scale: daily agg = one map-combined shuffle on (type, day); the per-type
# stats frame is tiny (|event_types| rows) and broadcast back. BIGINT
# sufficient statistics hold to ~1e9 events/day/type; beyond that the
# sums upgrade to DECIMAL(38,0) (documented).
# ---------------------------------------------------------------------------
@query(
    "dws_event_anomaly_zscore",
    oracle="""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS ct
    FROM events GROUP BY 1, 2
), stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)      AS n_days,
           CAST(SUM(ct) AS BIGINT)       AS s1,
           CAST(SUM(ct * ct) AS BIGINT)  AS s2
    FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.ct,
       CASE WHEN s.n_days * s.s2 - s.s1 * s.s1 = 0 THEN 0
            ELSE CAST(FLOOR(1000.0 * (
                CAST(s.n_days * d.ct - s.s1 AS DOUBLE)
                / (CAST(s.n_days AS DOUBLE)
                   * sqrt(CAST(s.n_days * s.s2 - s.s1 * s.s1 AS DOUBLE)
                          / CAST(s.n_days * s.n_days AS DOUBLE)))
            )) AS BIGINT) END AS z_milli,
       CASE WHEN s.n_days * s.s2 - s.s1 * s.s1 = 0 THEN 0
            WHEN abs(CAST(s.n_days * d.ct - s.s1 AS DOUBLE)
                     / (CAST(s.n_days AS DOUBLE)
                        * sqrt(CAST(s.n_days * s.s2 - s.s1 * s.s1 AS DOUBLE)
                               / CAST(s.n_days * s.n_days AS DOUBLE)))) >= 2.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM daily d JOIN stats s ON d.event_type = s.event_type
""",
    tags=("dws", "anomaly"),
)
def dws_event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count anomaly detection via per-type z-scores."""
    e = T.load(spark, sf_dir, "events", spread=False)
    return anomaly_finalize(anomaly_daily_partials(e))


def anomaly_daily_partials(events: DataFrame) -> DataFrame:
    """Mergeable (event_type, day, ct) partial counts over an events-shaped
    frame — the streaming-incremental form (checksum_partials pattern):
    counts are commutative + associative, so partials appended per
    micro-batch fold to exactly the one-shot daily aggregate regardless of
    arrival order or batch boundaries."""
    return events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("ct"))


def anomaly_finalize(partials: DataFrame) -> DataFrame:
    """Fold daily partials (possibly several rows per (type, day)) and
    score: per-type sufficient statistics (n, s1, s2) are exact integers;
    the only float steps are one division and one sqrt (IEEE-correctly
    rounded -> bit-identical across engines)."""
    daily = (
        partials.groupBy("event_type", "day")
        .agg(F.sum("ct").cast("bigint").alias("ct"))
        .localCheckpoint()  # types x days rows; feeds stats AND the join —
        # without it the fact aggregation runs twice (2 full scans)
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("ct").cast("bigint").alias("s1"),
        F.sum(F.col("ct") * F.col("ct")).cast("bigint").alias("s2"),
    )
    # identical expression tree to the oracle: num/(n*sqrt(var)), var exact
    z = (
        "CAST(n_days * ct - s1 AS DOUBLE)"
        " / (CAST(n_days AS DOUBLE)"
        "    * sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE)"
        "           / CAST(n_days * n_days AS DOUBLE)))"
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "ct",
            F.when(F.expr("n_days * s2 - s1 * s1 = 0"), F.lit(0))
            .otherwise(F.expr(f"CAST(FLOOR(1000.0 * ({z})) AS BIGINT)"))
            .alias("z_milli"),
            F.when(F.expr("n_days * s2 - s1 * s1 = 0"), F.lit(0))
            .otherwise(F.expr(f"CASE WHEN abs({z}) >= 2.0 THEN 1 ELSE 0 END"))
            .alias("is_anomaly"),
        )
        .withColumn("z_milli", F.col("z_milli").cast("bigint"))
        .withColumn("is_anomaly", F.col("is_anomaly").cast("int"))
    )


# ---------------------------------------------------------------------------
# f_unpivot_event_day — UNPIVOT via stack(): the exact inverse of
# f_pivot_event_day. Round-trip semantics: absent (day, type) cells that the
# pivot zero-filled stay as explicit ct=0 rows, so the oracle rebuilds the
# day x type cross frame and LEFT-joins the long aggregate. stack() is a
# single Generate over the wide row — map-only after the pivot's one
# shuffle; no second pass over the fact.
# ---------------------------------------------------------------------------
@query(
    "f_unpivot_event_day",
    oracle="""
WITH agg AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS ct,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS val
    FROM events GROUP BY 1, 2
), days AS (
    SELECT DISTINCT day FROM agg
), types AS (
    SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type
)
SELECT d.day, t.event_type,
       CAST(COALESCE(a.ct, 0) AS BIGINT) AS ct,
       COALESCE(a.val, 0.0)              AS val
FROM days d CROSS JOIN types t
LEFT JOIN agg a ON a.day = d.day AND a.event_type = t.event_type
""",
    tags=("unpivot",),
)
def f_unpivot_event_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (stack) of the wide per-day event matrix back to long form."""

    wide = f_pivot_event_day(spark, sf_dir)
    stack = ", ".join(f"'{t}', {t}_ct, {t}_val" for t in _EVENT_TYPES)
    return wide.select(
        "day",
        F.expr(
            f"stack({len(_EVENT_TYPES)}, {stack}) AS (event_type, ct, val)"
        ),
    ).select("day", "event_type", F.col("ct").cast("bigint"), "val")


# ---------------------------------------------------------------------------
# dws_user_path_transitions — user-journey transition matrix: for each user,
# order events by (ts, event_id) (a total order: event_id is unique), take
# lag(event_type), count (prev -> next) pairs; entries from the session
# start appear as '_start'. The partitionBy key is user_id — maximum
# cardinality, so the window parallelizes across the cluster and per-key
# state is one user's events (bounded). One shuffle on user_id, then a
# map-combined count shuffle on the (prev, next) pair.
# ---------------------------------------------------------------------------
@query(
    "dws_user_path_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_et
    FROM events
)
SELECT COALESCE(prev_et, '_start') AS prev_event_type,
       event_type,
       CAST(COUNT(*) AS BIGINT)             AS n_transitions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq GROUP BY 1, 2
""",
    tags=("dws", "journey"),
)
def dws_user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style (prev_event -> event) transition counts per user journey."""
    e = T.load(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "prev_et", F.lag("event_type").over(w)
    )
    return seq.groupBy(
        F.coalesce("prev_et", F.lit("_start")).alias("prev_event_type"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# llm_sketch_countmin — count-min sketch over corpus token frequencies.
#
# d=4 independent hash rows x w=256 buckets; counters are plain sums of the
# token counts that hash into them, so per-partition / per-batch partial
# sketches merge by element-wise addition (the property the streaming twin
# test pins). Estimates are the row-wise MIN of the bucket counters — always
# >= the exact count (one-sided error), surfaced per token next to the exact
# count as honesty columns.
#
# Scale: the corpus folds to the vocab-count table first (one map-combined
# shuffle); everything after — hashing, the (rw, bucket) agg, the estimate
# join — is vocab-sized. The sketch itself is d*w = 1024 counters regardless
# of corpus size.
# ---------------------------------------------------------------------------
CM_DEPTH = 4
CM_WIDTH = 256

_CM_HV = hexval_sql("hx", "instr")
_CM_HV_ORA = hexval_sql("md5(token || ':cm' || CAST(rw AS VARCHAR))", "strpos")


def _cm_hashed(tc: DataFrame) -> DataFrame:
    """(token, exact_count, rw, bucket) — every token fanned out to its
    CM_DEPTH row/bucket coordinates. Unambiguous hash input: rw is a
    single char, so token1||':cm'||rw1 == token2||':cm'||rw2 forces equal
    lengths and hence equal (token, rw)."""
    rows = tc.select(
        "token",
        "exact_count",
        F.explode(F.array([F.lit(i) for i in range(CM_DEPTH)])).alias("rw"),
    )
    return rows.withColumn(
        "hx", F.md5(F.concat(F.col("token"), F.lit(":cm"), F.col("rw").cast("string")))
    ).withColumn("bucket", F.expr(f"({_CM_HV}) % {CM_WIDTH}"))


def countmin_sketch(tc: DataFrame) -> DataFrame:
    """Build the (rw, bucket, bucket_count) sketch from a (token,
    exact_count) frame. Counters are sums -> two sketches over disjoint
    corpus halves merge by summing bucket_count (pinned by
    test_countmin_partials_merge)."""
    return _cm_hashed(tc).groupBy("rw", "bucket").agg(
        F.sum("exact_count").cast("bigint").alias("bucket_count")
    )


@query(
    "llm_sketch_countmin",
    oracle=f"""
WITH t AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM t GROUP BY 1
), r AS (
    SELECT token, exact_count, unnest(range(0, {CM_DEPTH})) AS rw FROM tc
), h AS (
    SELECT token, exact_count, rw,
           ({_CM_HV_ORA}) % {CM_WIDTH} AS bucket
    FROM r
), sk AS (
    SELECT rw, bucket, CAST(SUM(exact_count) AS BIGINT) AS bucket_count
    FROM h GROUP BY 1, 2
), est AS (
    SELECT h.token, h.exact_count,
           CAST(MIN(sk.bucket_count) AS BIGINT) AS cm_estimate
    FROM h JOIN sk USING (rw, bucket) GROUP BY 1, 2
)
SELECT token, exact_count, cm_estimate,
       CAST(cm_estimate - exact_count AS BIGINT) AS overestimate
FROM est
""",
    tags=("llm-sketch",),
)
def llm_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates vs exact token counts (one-sided overestimate).

    tc is localCheckpoint'ed so the sketch branch and the estimate branch
    share one corpus scan (same discipline as the LSH/mix queries).
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select(F.explode(F.split("text", " ")).alias("token"))
    tc = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .localCheckpoint()
    )
    sk = countmin_sketch(tc)
    hashed = _cm_hashed(tc)
    est = (
        hashed.join(F.broadcast(sk), ["rw", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("bucket_count").cast("bigint").alias("cm_estimate"))
    )
    return est.select(
        "token",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).cast("bigint").alias(
            "overestimate"
        ),
    )


# ---------------------------------------------------------------------------
# f_zorder_layout_audit — z-order vs linear file layout, quantified.
#
# Both engines compute z-values from ONE generated integer-arithmetic
# template (no engine-specific bit intrinsics), so the audit is exact.
# One scan -> per-row (b1, b2, file under each layout) -> explode the two
# layout assignments -> one (layout, file_id) agg. A single shuffle whose
# key count is 2 * N_FILES regardless of table size.
# ---------------------------------------------------------------------------
ZB_BITS = 8  # 256 buckets per dimension
ZB = 1 << ZB_BITS
Z_FILES = 64  # files per layout
CK_SPAN = 1500  # o_custkey in [0, 1500)
DATE_EPOCH = "1995-01-01"
DAY_SPAN = 2406  # datediff(max o_orderdate, epoch) == 2404 < 2406


def _interleave_sql(c1: str, c2: str, divtok: str) -> str:
    """Bit-interleave two ZB_BITS-wide non-negative ints: c1 takes the odd
    bit positions, c2 the even — plain div/mod arithmetic valid in both
    Spark SQL (divtok='div') and DuckDB (divtok='//')."""
    terms = []
    for i in range(ZB_BITS):
        terms.append(f"(({c1} {divtok} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({c2} {divtok} {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    z = _interleave_sql("b1", "b2", "//")
    return f"""
WITH b AS (
    SELECT least(greatest((o_custkey * {ZB}) // {CK_SPAN}, 0), {ZB - 1})
               AS b1,
           least(greatest(
               (date_diff('day', DATE '{DATE_EPOCH}',
                          CAST(o_orderdate AS DATE)) * {ZB}) // {DAY_SPAN},
               0), {ZB - 1}) AS b2
    FROM orders
), f AS (
    SELECT 'zorder' AS layout,
           ({z} * {Z_FILES}) // {ZB * ZB} AS file_id, b1, b2 FROM b
    UNION ALL
    SELECT 'linear' AS layout,
           ((b1 * {ZB} + b2) * {Z_FILES}) // {ZB * ZB} AS file_id, b1, b2
    FROM b
)
SELECT layout, CAST(file_id AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(b1) AS BIGINT) AS min_b1, CAST(MAX(b1) AS BIGINT) AS max_b1,
       CAST(MIN(b2) AS BIGINT) AS min_b2, CAST(MAX(b2) AS BIGINT) AS max_b2,
       CAST(MAX(b1) - MIN(b1) + 1 AS BIGINT) AS span_b1,
       CAST(MAX(b2) - MIN(b2) + 1 AS BIGINT) AS span_b2,
       CAST((MAX(b1) - MIN(b1) + 1) * (MAX(b2) - MIN(b2) + 1) AS BIGINT)
           AS span_product
FROM f GROUP BY 1, 2
"""


@query(
    "f_zorder_layout_audit",
    oracle=_zorder_oracle(),
    tags=("storage-layout",),
)
def f_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit for two-dimensional scan pruning: bucket orders by
    (customer, order-day) into 256x256 cells, assign each row to one of 64
    files under (a) z-order and (b) linear (b1-major) sort, and emit every
    file's per-dimension min/max footprint + span_product — the rectangle
    a min/max-pruning reader must intersect with a predicate. At 100 TB
    this IS the OPTIMIZE ZORDER decision input: z-order keeps both spans
    small (point predicates on EITHER dimension skip most files); linear
    keeps only b1 small while every file spans all of b2."""
    z = _interleave_sql("b1", "b2", "div")
    b = T.load(spark, sf_dir, "orders", spread=False).select(
        # clamp into [0, ZB): an out-of-constant-range key must saturate at
        # the edge cell, not alias into low cells through the 8-bit
        # interleave (b1=256 would z-collide with b1=0), and a pre-epoch
        # date must not hit the div-truncate (Spark) vs floor (DuckDB)
        # negative-division divergence
        F.expr(
            f"least(greatest((o_custkey * {ZB}) div {CK_SPAN}, 0), {ZB - 1})"
        ).alias("b1"),
        F.expr(
            f"least(greatest((datediff(cast(o_orderdate as date),"
            f" date'{DATE_EPOCH}') * {ZB}) div {DAY_SPAN}, 0), {ZB - 1})"
        ).alias("b2"),
    )
    lay = b.select(
        "b1",
        "b2",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"({z} * {Z_FILES}) div {ZB * ZB}").alias(
                        "file_id"
                    ),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(
                        f"((b1 * {ZB} + b2) * {Z_FILES}) div {ZB * ZB}"
                    ).alias("file_id"),
                ),
            )
        ).alias("a"),
    ).select("a.layout", F.col("a.file_id").cast("bigint").alias("file_id"), "b1", "b2")
    return (
        lay.groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("b1").cast("bigint").alias("min_b1"),
            F.max("b1").cast("bigint").alias("max_b1"),
            F.min("b2").cast("bigint").alias("min_b2"),
            F.max("b2").cast("bigint").alias("max_b2"),
        )
        .withColumn(
            "span_b1",
            (F.col("max_b1") - F.col("min_b1") + 1).cast("bigint"),
        )
        .withColumn(
            "span_b2",
            (F.col("max_b2") - F.col("min_b2") + 1).cast("bigint"),
        )
        .withColumn(
            "span_product",
            (F.col("span_b1") * F.col("span_b2")).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# dws_event_type_pagerank — integer-exact PageRank on the transition graph.
#
# The second graph operator (next to operators/graph.py connected
# components): PageRank over the event-type transition graph that
# dws_user_path_transitions derives. All arithmetic is scaled-integer
# (ppb = parts-per-billion) with a FIXED evaluation order — per-edge
# contribution rank(u) * cnt(u,v) div out(u), damping 85/100, dangling
# mass redistributed as dang div N — so three power iterations produce
# bit-identical ranks on both engines (float PageRank never hash-matches).
#
# Scale: the ONLY corpus-sized work is the lag Window on user_id (max-
# cardinality key) + one map-combined (src, dst) agg — identical posture
# to dws_user_path_transitions. The graph after aggregation is
# |event_types|^2 rows; every iteration is joins over that tiny frame
# (checkpointed so round r+1 does not recompute round r; same discipline
# as the BPE trainer rounds).
# ---------------------------------------------------------------------------
PR_ITERS = 3
PR_DAMP_NUM = 85  # damping factor 0.85 as an exact ratio
_PPB = 10**9


def _pagerank_oracle() -> str:
    head = f"""
WITH s AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
), e AS (
    SELECT prev AS src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
), nodes AS (
    SELECT DISTINCT src AS node FROM e
    UNION SELECT DISTINCT dst FROM e
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
), outs AS (
    SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt FROM e GROUP BY 1
), r0 AS (
    SELECT node, {_PPB} // nn.n AS rank_ppb FROM nodes, nn
)"""
    rounds = []
    for i in range(PR_ITERS):
        rounds.append(
            f""", c{i} AS (
    SELECT e.dst AS node,
           CAST(SUM((r.rank_ppb * e.cnt) // o.out_cnt) AS BIGINT) AS contrib
    FROM e JOIN r{i} r ON e.src = r.node JOIN outs o ON e.src = o.src
    GROUP BY 1
), d{i} AS (
    SELECT CAST(COALESCE(SUM(r.rank_ppb), 0) AS BIGINT) AS dang
    FROM r{i} r LEFT JOIN outs o ON r.node = o.src
    WHERE o.src IS NULL
), r{i + 1} AS (
    SELECT n.node,
           (({100 - PR_DAMP_NUM} * ({_PPB} // nn.n)) // 100)
           + ({PR_DAMP_NUM} * (COALESCE(c.contrib, 0) + d.dang // nn.n))
             // 100 AS rank_ppb
    FROM nodes n CROSS JOIN nn CROSS JOIN d{i} d
    LEFT JOIN c{i} c ON n.node = c.node
)"""
        )
    tail = f"""
SELECT r.node AS event_type,
       CAST(r.rank_ppb AS BIGINT) AS rank_ppb,
       CAST(COALESCE(o.out_cnt, 0) AS BIGINT) AS out_transitions,
       CAST(COALESCE(i.in_cnt, 0) AS BIGINT) AS in_transitions
FROM r{PR_ITERS} r
LEFT JOIN outs o ON r.node = o.src
LEFT JOIN (SELECT dst, CAST(SUM(cnt) AS BIGINT) AS in_cnt
           FROM e GROUP BY 1) i ON r.node = i.dst
"""
    return head + "".join(rounds) + tail


@query(
    "dws_event_type_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "analytics"),
)
def dws_event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, damping 0.85) over the event-type
    transition graph, in exact ppb integers with a pinned evaluation
    order — the graph-centrality sibling of connected components. The
    corpus collapses to a |V|^2 edge frame in one Window+agg pass;
    iterations run on that tiny checkpointed frame."""
    e_raw = T.load(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e_raw.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    e = (
        s.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return pagerank_from_edges(e)


def pagerank_from_edges(edges: DataFrame) -> DataFrame:
    """The iteration half of ``dws_event_type_pagerank``, shared with the
    streaming twin: given a weighted edge frame ``(src, dst, cnt)``
    (mergeable by summing ``cnt`` — micro-batch transition partials fold
    losslessly before this runs), produce the exact ppb-integer ranks.
    The edge frame is checkpointed so round r+1 never recomputes round r
    (the BPE-trainer discipline)."""
    e = edges.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    outs = e.groupBy("src").agg(
        F.sum("cnt").cast("bigint").alias("out_cnt")
    ).localCheckpoint()
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{_PPB} div n").alias("rank_ppb"))
        .localCheckpoint()
    )
    for _i in range(PR_ITERS):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outs, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr("(rank_ppb * cnt) div out_cnt")
                ).cast("bigint").alias("contrib")
            )
        )
        dang = (
            ranks.join(outs, ranks.node == outs.src, "left_anti")
            .agg(
                F.coalesce(F.sum("rank_ppb"), F.lit(0))
                .cast("bigint")
                .alias("dang")
            )
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                F.expr(
                    f"(({100 - PR_DAMP_NUM} * ({_PPB} div n)) div 100)"
                    f" + ({PR_DAMP_NUM} * (coalesce(contrib, 0)"
                    f" + dang div n)) div 100"
                ).alias("rank_ppb"),
            )
            .localCheckpoint()
        )
    ins = e.groupBy("dst").agg(F.sum("cnt").cast("bigint").alias("in_cnt"))
    return (
        ranks.join(F.broadcast(outs), ranks.node == outs.src, "left")
        .join(F.broadcast(ins), ranks.node == ins.dst, "left")
        .select(
            F.col("node").alias("event_type"),
            F.col("rank_ppb").cast("bigint").alias("rank_ppb"),
            F.coalesce("out_cnt", F.lit(0))
            .cast("bigint")
            .alias("out_transitions"),
            F.coalesce("in_cnt", F.lit(0))
            .cast("bigint")
            .alias("in_transitions"),
        )
    )


# ---------------------------------------------------------------------------
# llm_sketch_hll_distinct — deterministic HyperLogLog, the canonical
# mergeable distinct sketch (Flajolet et al. 2007), built from the same
# md5 random oracle as the KMV sketch so BOTH engines compute identical
# registers and an identical estimate (library HLLs — Spark's
# approx_count_distinct, DuckDB's approx_distinct — have incompatible
# register layouts and can never hash-match; this one can, which is the
# whole point of implementing it from scratch).
#
# Layout: p = 6 -> m = 64 registers. bucket = first 8 hash bits mod 64;
# rho = leading-zero count of the NEXT 44 bits + 1, via the engine-
# portable floor-log2 trick (45 - length(bin(v)); bin() is minimal-width
# on both engines, checked). Registers fold by plain MAX — duplicate
# hashes cannot move a max, so NO distinct pass is needed anywhere
# (KMV's structural cost), the partial agg map-combines, and partials
# from any corpus split merge losslessly (the streaming twin).
#
# Estimate: alpha_64 * m^2 / sum_j 2^(-R_j) evaluated in EXACT integer
# arithmetic with a pinned order — denom = sum 2^(45-R_j) (absent
# registers contribute 2^45), numerator m^2*2^45 = 2^57 (fits BIGINT),
# alpha_64 pinned at 709/1000. The small-range (linear-counting) branch
# needs ln() and is deliberately omitted — transcendental libm calls are
# not bit-stable across engines; err_permille reports the resulting
# small-group bias honestly next to the exact count.
# ---------------------------------------------------------------------------
HLL_M = 64  # registers (p = 6)
_HLL_W = 44  # bits consumed by rho after the bucket byte
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 709, 1000  # alpha_64 = 0.709 pinned


def hll_register_partials(keyed: DataFrame) -> DataFrame:
    """Per-(grp, bucket) max-rho registers for any slice of a (grp, key)
    frame — mergeable by MAX, so micro-batch partials union + re-max to
    exactly the one-shot registers (the streaming twin's state). No
    distinct pass anywhere: duplicate keys hash identically and cannot
    move a MAX."""
    h = keyed.filter(F.col("key").isNotNull()).select(
        "grp", F.md5(F.col("key")).alias("hx")
    )
    br = h.select(
        "grp",
        F.expr(f"{hexv('hx', 1, 2, 'instr')} % {HLL_M}").alias("bucket"),
        F.expr(hexv("hx", 3, 11, "instr")).alias("v"),
    )
    return br.groupBy("grp", "bucket").agg(
        F.expr(
            f"MAX(CASE WHEN v = 0 THEN {_HLL_W + 1} "
            f"ELSE {_HLL_W + 1} - length(bin(v)) END)"
        ).cast("int").alias("r")
    )


def hll_estimate_col() -> str:
    """The pinned-order integer estimate expression over a ``denom``
    column — one template string shared by Spark and the DuckDB oracle
    (both spell integer division the same way via the {d} placeholder)."""
    return (
        f"((({HLL_M * HLL_M} * CAST({2 ** _HLL_W} AS BIGINT) * 2) {{d}} denom)"
        f" * {_HLL_ALPHA_NUM}) {{d}} {_HLL_ALPHA_DEN}"
    )


def hll_finalize(partials: DataFrame, exact: DataFrame) -> DataFrame:
    """Merge register partials (MAX per (grp, bucket)), fold to the
    denominator, and emit estimate + measured error next to the exact
    distinct count (a (grp, ex) frame)."""
    reg = partials.groupBy("grp", "bucket").agg(F.max("r").alias("r"))
    den = reg.groupBy("grp").agg(
        F.expr(
            f"CAST(SUM(shiftleft(CAST(1 AS BIGINT), {_HLL_W + 1} - r)) AS BIGINT)"
            f" + ({HLL_M} - COUNT(*))"
            f" * shiftleft(CAST(1 AS BIGINT), {_HLL_W + 1})"
        ).alias("denom"),
        F.count(F.lit(1)).cast("bigint").alias("buckets_active"),
    )
    est = den.select(
        "grp",
        "buckets_active",
        F.expr(hll_estimate_col().format(d="div")).cast("bigint").alias("est"),
    )
    return est.join(exact, "grp").select(
        F.col("grp").alias("source"),
        F.col("ex").cast("bigint").alias("exact_distinct"),
        F.col("est").alias("hll_estimate"),
        F.expr("(1000 * abs(est - ex)) div ex").cast("bigint").alias(
            "err_permille"
        ),
        "buckets_active",
    )


def _hll_oracle() -> str:
    est = hll_estimate_col().format(d="//")
    return f"""
WITH {shingle_sql(key="source", distinct=False)}, h AS (
    SELECT source AS grp, md5(shingle) AS hx FROM sh
), br AS (
    SELECT grp,
           {hexv("hx", 1, 2, "strpos")} % {HLL_M} AS bucket,
           {hexv("hx", 3, 11, "strpos")} AS v
    FROM h
), reg AS (
    SELECT grp, bucket,
           MAX(CASE WHEN v = 0 THEN {_HLL_W + 1}
               ELSE {_HLL_W + 1} - length(bin(v)) END) AS r
    FROM br GROUP BY 1, 2
), den AS (
    SELECT grp,
           CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_W + 1} - r)) AS BIGINT)
           + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_HLL_W + 1})
               AS denom,
           CAST(COUNT(*) AS BIGINT) AS buckets_active
    FROM reg GROUP BY 1
), est AS (
    SELECT grp, buckets_active, CAST({est} AS BIGINT) AS est
    FROM den
), exact AS (
    SELECT source AS grp, COUNT(DISTINCT shingle) AS ex FROM sh GROUP BY 1
)
SELECT e.grp AS source,
       CAST(x.ex AS BIGINT) AS exact_distinct,
       e.est AS hll_estimate,
       CAST((1000 * abs(e.est - x.ex)) // x.ex AS BIGINT) AS err_permille,
       e.buckets_active
FROM est e JOIN exact x ON e.grp = x.grp
"""


@query(
    "llm_sketch_hll_distinct",
    oracle=_hll_oracle(),
    tags=("llm-text", "sketch"),
)
def llm_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog count of distinct 3-gram shingles per
    source — the size of each source's dedup candidate space (what
    MinHash banding parameters are tuned against), measured WITHOUT the
    distinct shuffle the exact count needs.

    The register-max sibling of llm_sketch_kmv_distinct (same md5 random
    oracle, different sketch algebra): HLL needs no distinct pass at all
    because MAX absorbs duplicate shingles map-side. Scale shape: one
    scan -> map-only shingle explode -> map-combined (source, bucket) MAX
    -> 64-row fold per source; the only corpus-wide shuffle carries <= m
    rows per source of two ints. The exact COUNT(DISTINCT) rides along as
    the expensive honesty twin (a full (source, shingle) distinct
    shuffle), with per-source NDV ~1.1-1.5k >> 2.5*m = 160, so every
    group sits in HLL's estimating regime (the omitted linear-counting
    branch is never the operative path here)."""
    d = T.load(spark, sf_dir, "documents")
    # (source, shingle) occurrence rows: no per-doc distinct, MAX absorbs
    # duplicates. Two scans on purpose, NOT a checkpoint: the fan-out
    # consumers each re-run the split+explode (cheap codegen) rather than
    # materialize the exploded shingle-string frame, which is ~100x the
    # source bytes — the opposite call from the codec/signature
    # checkpoints, for the same reason (recompute cost vs materialized size)
    def keyed() -> DataFrame:
        toks = d.select("source", F.split("text", " ").alias("t"))
        return toks.select(
            F.col("source").alias("grp"),
            F.explode(trigram_array(F.col("t"))).alias("key"),
        ).filter(is_trigram(F.col("key")))

    partials = hll_register_partials(keyed())
    exact = keyed().groupBy("grp").agg(F.countDistinct("key").alias("ex"))
    return hll_finalize(partials, exact)


# ---------------------------------------------------------------------------
# dws_dau_wau_stickiness — rolling distinct-active-user windows (DAU /
# trailing-7-day WAU / stickiness = DAU/WAU): the canonical product-
# analytics report, implemented in the 100 TB shape — NO range join and
# no per-day rescans. The raw event stream collapses ONCE to the
# (user, day) distinct frame; each collapsed row then fans out map-side
# to the <= 7 window-end days it supports (a generate, not a join), and
# one countDistinct per window-end day finishes it. The range-join
# formulation (days BETWEEN d-6 AND d) would plan a nested-loop against
# the day grid; the fan-out form shuffles at most 7x the COLLAPSED frame
# — ~1e-3 of the event volume on real click data.
# ---------------------------------------------------------------------------
WAU_DAYS = 7


@query(
    "dws_dau_wau_stickiness",
    oracle=f"""
WITH ud AS (
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE user_id IS NOT NULL
), days AS (SELECT DISTINCT day FROM ud),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
), fan AS (
    SELECT DISTINCT u.user_id,
           strftime(CAST(u.day AS DATE) + CAST(i AS INTEGER), '%Y-%m-%d') AS day
    FROM ud u, unnest(range(0, {WAU_DAYS})) t(i)
), wau AS (
    SELECT f.day, CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS wau
    FROM fan f JOIN days d ON d.day = f.day
    GROUP BY 1
)
SELECT d.day, dau.dau, w.wau,
       CAST((1000 * dau.dau) // w.wau AS BIGINT) AS stickiness_pm
FROM days d JOIN dau USING (day) JOIN wau w USING (day)
""",
    tags=("dws", "analytics"),
)
def dws_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-{WAU_DAYS}-day weekly active users,
    and the DAU/WAU stickiness ratio (integer per-mille) per calendar
    day.

    Scale shape: events collapse ONCE to the distinct (user, day) frame
    (checkpointed — DAU, the fan-out, and the day grid all read it);
    WAU is a map-side explode of each collapsed row to its <= {WAU_DAYS}
    supported window-end days followed by one countDistinct shuffle —
    never a range join (which would nested-loop against the day grid)
    and never a per-day rescan. Window-end days past the observed range
    are dropped by the inner join against the day grid, so partial
    trailing windows at the start of history are reported as-is
    (documented: day 1's WAU == its DAU)."""
    e = T.load(spark, sf_dir, "events", spread=False)
    ud = (
        e.filter(F.col("user_id").isNotNull())
        .select(
            "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .localCheckpoint()
    )
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    fan = (
        ud.select(
            "user_id",
            F.explode(
                F.expr(
                    "sequence(to_date(day),"
                    f" date_add(to_date(day), {WAU_DAYS - 1}))"
                )
            ).alias("wd"),
        )
        .select("user_id", F.date_format("wd", "yyyy-MM-dd").alias("day"))
        .distinct()
    )
    wau = (
        fan.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("CAST((1000 * dau) div wau AS BIGINT)").alias(
                "stickiness_pm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# f_skyline_pareto_suppliers — 2-D skyline over per-supplier aggregates.
#
# Dominance: q dominates p iff q.rev >= p.rev AND q.qty >= p.qty with at
# least one strict. 2-D collapse: p survives iff (a) no strictly-higher
# revenue class reaches p's quantity (prefix max over the distinct-rev
# frame, descending) and (b) p holds the max quantity within its own
# revenue class. Equal (rev, qty) points all survive — matching the NOT
# EXISTS spec exactly.
#
# Scale: the per-supplier agg is the only corpus shuffle (map-combined,
# keyed on l_suppkey). The distinct-revenue frame is <= |supplier| rows
# (dim-sized by construction), so its unpartitioned prefix-max Window and
# its broadcast join-back are bounded — same discipline as the
# heavy-hitters head (plan guard pins the broadcast + the single big-side
# Exchange).
# ---------------------------------------------------------------------------


_SKYLINE_AGG_SQL = """
agg AS (
    SELECT l_suppkey AS s_suppkey,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l_discount AS DECIMAL(18,2)))) AS rev,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
    FROM lineitem GROUP BY 1
)"""


@query(
    "f_skyline_pareto_suppliers",
    oracle=f"""
WITH {_SKYLINE_AGG_SQL.lstrip()}
SELECT a.s_suppkey, s.s_name,
       CAST(a.rev AS DOUBLE) AS revenue,
       CAST(a.qty AS DOUBLE) AS total_qty
FROM agg a JOIN supplier s ON a.s_suppkey = s.s_suppkey
WHERE NOT EXISTS (
    SELECT 1 FROM agg q
    WHERE q.rev >= a.rev AND q.qty >= a.qty
      AND (q.rev > a.rev OR q.qty > a.qty)
)
""",
    tags=("olap", "skyline"),
)
def f_skyline_pareto_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal suppliers on (total revenue, total quantity): the
    skyline operator. A supplier is reported iff no other supplier is at
    least as good on both measures and strictly better on one.

    Scale shape: one map-combined agg keyed on l_suppkey (the only
    corpus-wide shuffle); the skyline itself runs on the DISTINCT-revenue
    frame (<= |supplier| rows, dim-sized) — prefix max of quantity in
    descending-revenue order — and joins back by broadcast. The oracle's
    quadratic NOT EXISTS is the spec, not the plan; the sort-filter
    collapse is exactly equivalent in 2-D (test_skyline_matches_quadratic
    pins it on random frontiers). The plan is the streaming twin's:
    ``skyline_finalize(skyline_agg_partials(lineitem), supplier)`` — the
    re-sum over one partial per supplier adds no exchange.
    """
    li = T.load(spark, sf_dir, "lineitem", spread=False)
    sup = T.load(spark, sf_dir, "supplier", spread=False).select("s_suppkey", "s_name")
    return skyline_finalize(skyline_agg_partials(li), sup)


def pareto_frontier_2d(pts: DataFrame) -> DataFrame:
    """2-D skyline core over any frame with ``rev``/``qty`` maximize
    columns (other columns ride along): keep rows not dominated under
    (>=, >=, one strict). Split out so the property test can drive random
    point sets against a quadratic python model.

    ``pts`` has TWO consumers here (the rev-class fold and the join-back)
    and is dim-bounded by contract while deriving from a corpus-sized
    aggregation, so it is localCheckpoint'ed (CLAUDE.md checkpoint rule):
    without it the whole upstream agg ran twice — the r13 before-plan
    scanned + aggregated lineitem once per consumer (Exchange 4 AND 9).
    Lazy: the frontier's broadcast build materializes it in-job."""
    pts = pts.localCheckpoint(eager=False)
    byrev = pts.groupBy("rev").agg(F.max("qty").alias("mq"))
    # prefix max over STRICTLY higher revenue classes: byrev has one row
    # per distinct revenue, so rows strictly preceding in desc order are
    # exactly the higher classes. Unpartitioned Window over a dim-bounded
    # aggregated frame (<= |supplier| rows) — documented bounded-frame use.
    whi = Window.orderBy(F.col("rev").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = byrev.withColumn("hi", F.max("mq").over(whi))
    return (
        pts.join(F.broadcast(frontier), "rev")
        .filter(
            (F.col("hi").isNull() | (F.col("hi") < F.col("qty")))
            & (F.col("mq") <= F.col("qty"))
        )
        .drop("hi", "mq")
    )


# ---------------------------------------------------------------------------
# dws_event_cooccurrence_lift — market-basket support/confidence/lift.
#
# Basket = (user_id, day); items = the distinct event types seen in it.
# BIGINT audit: lift_pm = (1000 * n_ab * n_baskets) div (n_a * n_b) with
# n_ab <= n_baskets, so the numerator is <= 1000 * N^2 — safe to
# N ~ 3e9 baskets (9e18 < 2^63-1); the shipped corpus is ~1e4.
# ---------------------------------------------------------------------------


@query(
    "dws_event_cooccurrence_lift",
    oracle="""
WITH ut AS (
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type
    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), b AS (
    SELECT user_id, day FROM ut GROUP BY 1, 2
), n AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM b
), tc AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1
), p AS (
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_ab
    FROM ut a
    JOIN ut c ON a.user_id = c.user_id AND a.day = c.day
             AND a.event_type < c.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ta.n_t AS n_a, tb.n_t AS n_b, n.n_baskets,
       CAST((1000 * p.n_ab) // n.n_baskets AS BIGINT) AS support_pm,
       CAST((1000 * p.n_ab * n.n_baskets) // (ta.n_t * tb.n_t) AS BIGINT)
           AS lift_pm
FROM p
JOIN tc ta ON ta.event_type = p.type_a
JOIN tc tb ON tb.event_type = p.type_b, n
""",
    tags=("dws", "analytics"),
)
def dws_event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support / lift between event-type pairs co-occurring in the same
    (user, day) basket — the market-basket affinity report behind
    "users who search also purchase" product questions. lift_pm > 1000
    means positive association.

    Scale shape: events collapse ONCE to the distinct (user, day, type)
    frame (checkpointed: it feeds the type marginals, the basket arrays,
    and the basket count). Pairs are generated MAP-SIDE by exploding each
    basket's sorted type-set array into its <= C(T,2) combinations (T =
    |event types|, a small constant) — never a basket self-join, so no
    shuffle ever carries more than the collapsed frame. Marginals and the
    basket count broadcast back onto the tiny pair-count frame. The plan
    is the streaming twin's, ``cooccurrence_finalize(
    cooccurrence_ut_partials(events))``: the finalize re-distinct of an
    already distinct frame is removed by the optimizer.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    return cooccurrence_finalize(cooccurrence_ut_partials(e))


def cooccurrence_lift(ut: DataFrame) -> DataFrame:
    """Affinity core over any distinct (user_id, day, event_type) frame —
    split out so the python-model test can drive synthetic baskets."""
    tc = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    baskets = ut.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    ts = F.col("types")
    pair_arr = F.flatten(
        F.transform(
            ts,
            lambda x, i: F.transform(
                # slice start is 1-based: element i (0-based) pairs with
                # everything from 1-based position i+2 onward; slice
                # clamps at the array end, so the last element yields []
                F.slice(ts, i + F.lit(2), F.size(ts)),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_baskets",
            F.expr("CAST((1000 * n_ab) div n_baskets AS BIGINT)").alias(
                "support_pm"
            ),
            F.expr(
                "CAST((1000 * n_ab * n_baskets) div (n_a * n_b) AS BIGINT)"
            ).alias("lift_pm"),
        )
    )


# ---------------------------------------------------------------------------
# Accumulate-then-finalize twins of the skyline and co-occurrence
# queries: each registered query above is finalize(partials(input)), and
# a streaming twin folds micro-batch partials into the same finalize.
# Each partial is mergeable by construction; each union-of-batches ==
# one-shot identity is pinned in tests/test_round7_ext.py.
# ---------------------------------------------------------------------------


def skyline_agg_partials(li_batch: DataFrame) -> DataFrame:
    """Per-supplier (rev, qty) DECIMAL partial sums of one lineitem slice
    — plain sum algebra, so streaming state is one row per supplier seen.
    The skyline itself is NOT incremental (a new batch can dominate away
    prior frontier rows), which is exactly why the state is the partial
    AGGREGATE, not the frontier: finalize re-sums and re-runs the
    dim-bounded frontier collapse."""
    return li_batch.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(
            F.col("l_extendedprice").cast(MONEY)
            * (F.lit(1).cast(MONEY) - F.col("l_discount").cast(MONEY))
        ).alias("rev"),
        F.sum(F.col("l_quantity").cast(MONEY)).alias("qty"),
    )


def skyline_finalize(parts: DataFrame, sup: DataFrame) -> DataFrame:
    """Skyline report from accumulated supplier partials."""
    agg = parts.groupBy("s_suppkey").agg(
        F.sum("rev").alias("rev"), F.sum("qty").alias("qty")
    )
    return pareto_frontier_2d(agg).join(F.broadcast(sup), "s_suppkey").select(
        "s_suppkey",
        "s_name",
        F.col("rev").cast("double").alias("revenue"),
        F.col("qty").cast("double").alias("total_qty"),
    )


def cooccurrence_ut_partials(events_batch: DataFrame) -> DataFrame:
    """Distinct (user_id, day, event_type) rows of one events slice — the
    basket-membership state. A (user, day) basket can straddle batches
    (the same user fires events in many micro-batches), so the state must
    be membership rows, not per-batch pair counts: finalize re-distincts
    the union (idempotent merge) and re-runs the map-side pair expansion
    on complete baskets."""
    return (
        events_batch.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .distinct()
    )


def cooccurrence_finalize(parts: DataFrame) -> DataFrame:
    """Affinity report from accumulated membership state."""
    return cooccurrence_lift(parts.distinct().localCheckpoint())
