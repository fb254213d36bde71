"""Driver-testdata loaders and reference-domain adapters.

The driver supplies TPC-H-ish parquet at ``/root/testdata/sf*/`` (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings``. The reference warehouse's domain (gmall OLTP CDC + behavior
logs) is mapped onto these tables so every reference pipeline has a
batch-testable twin over driver data (FIXTURES.md §6.4 mapping):

  order_info            <- orders       (id, user_id, order_status, ...)
  order_detail          <- lineitem     (id, order_id, sku_id, amounts, ...)
  user_info             <- customer
  sku dim chain         <- part -> brand/type  (sku->spu->tm->category chain)
  province dim chain    <- supplier -> nation -> region
  topic_log / page log  <- events       (mid=user_id, page_id=event_type)
  documents/embeddings  <- LLM-pipeline extension tables

Decimal policy: money columns are cast DOUBLE -> DECIMAL(18,2) *inside*
aggregations so sums are exact and order-independent (double sums are
order-dependent and cannot hash-match an oracle); final outputs are cast
back to DOUBLE on BOTH engines — scale 2/4 keeps the scaled integer sum
under 2^53, so the decimal->double conversion is a single exactly-rounded
step in both Spark and DuckDB (bit-identical float64 out). Row-wise
arithmetic stays in plain DOUBLE (IEEE ops with identical expression trees
are deterministic across engines).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# money / measure scale used everywhere (see module docstring)
MONEY = "decimal(18,2)"
AGG = "decimal(38,6)"  # internal only; final outputs cast to double


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _max_partition_bytes(spark: SparkSession) -> int:
    """Parse spark.sql.files.maxPartitionBytes, which may carry a byte
    suffix ("128m", "134217728b") or be a bare number."""
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).strip().lower().removesuffix("b")
    try:
        if raw and raw[-1] in _SIZE_SUFFIX:
            return int(raw[:-1]) * _SIZE_SUFFIX[raw[-1]]
        return int(raw)
    except ValueError:
        return 128 * 1024 * 1024


def _file_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 1 << 60  # unknown (remote FS): assume big, don't reshuffle


def _dir_max_mtime_ns(path: str) -> int:
    """Max st_mtime_ns over all files under a directory: an in-place
    rewrite of a part file's CONTENTS bumps the file's mtime but not the
    directory's (dir mtime moves only on entry add/remove/rename), so the
    schema-cache stamp must fold the contained files' mtimes in."""
    mx = 0
    for r, _, fs in os.walk(path):
        for f in fs:
            try:
                mx = max(mx, os.stat(os.path.join(r, f)).st_mtime_ns)
            except OSError:
                pass
    return mx


# Parquet SCHEMA cache (r12 optimization, guide §6 file-metadata costs):
# schema inference re-reads the parquet footer through the JVM on every
# ``spark.read.parquet`` — measured 109 ms vs 22 ms with an explicit
# schema at sf0.1, and T.load runs 1-4x per query build. The cache holds
# only StructType METADATA keyed by (path, dir/file mtime_ns, total
# bytes), so a rewritten fixture (new mtime/size) re-infers; no data or
# results are ever cached and every action still scans the parquet.
# StructType is session-independent, so entries survive session restarts
# (the same role as Spark's own catalog schema cache, which bare-path
# reads bypass).
_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # ADVICE r12: a directory's own mtime misses in-place content
            # rewrites of part files — include the newest contained mtime
            return (st.st_mtime_ns, _dir_max_mtime_ns(path), st.st_size)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Read one driver table; normalizes events.ts nanos -> TIMESTAMP_NTZ.

    Parallelism guard: the testdata parquet is one row group per table, so
    the scan yields ONE input partition and every downstream map-side
    operator (JSON build/parse, shingling, token explode, dot products)
    would run on one core. Small inputs (under one split,
    spark.sql.files.maxPartitionBytes) are spread across the session's
    cores up front — a cheap narrow-input shuffle here; a no-op on real
    multi-file/multi-row-group tables at scale (their scans already
    split). Decided from file size (free) rather than df.rdd partition
    count (which forces a plan->RDD conversion, ~0.5 s per call).

    ``spread=False`` skips the guard for consumers whose FIRST downstream
    operator is itself an Exchange or BroadcastExchange (an explicit
    repartition, a shuffle agg/join key, a broadcast build side): the
    spread's map side is the same single scan task either way, so the
    extra round-robin Exchange only adds a full serialize/deserialize of
    the table (guide §2.4 — remove shuffles outright). Keep the default
    wherever non-trivial per-row compute (shingling, explode, decode,
    dot products) runs between the scan and the first exchange.
    """
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    nbytes = _file_bytes(path)
    stamp = _path_stamp(path)
    key = (path, stamp, nbytes)
    schema = _SCHEMA_CACHE.get(key) if stamp is not None else None
    if schema is None:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if spread and nbytes < _max_partition_bytes(spark):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (see session.RUNTIME_CONFS); truncate
        # to micros exactly like DuckDB reads the same file.
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLE_NAMES}


# ---------------------------------------------------------------------------
# Reference-domain adapters (Spark side).
# ---------------------------------------------------------------------------


def order_detail(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """lineitem -> order_detail (dwd_trade_order_detail shape,
    DwdTradeOrderDetail.java:96-113). id is synthesized unique:
    l_orderkey*8 + l_linenumber (linenumber <= 7 in TPC-H)."""
    l = load(spark, sf_dir, "lineitem", spread=spread)
    return l.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_quantity").cast(MONEY).alias("sku_num"),
        F.col("l_extendedprice").cast(MONEY).alias("order_price"),
        F.col("l_discount").cast(MONEY).alias("discount"),
        F.col("l_tax").cast(MONEY).alias("tax"),
        F.col("l_returnflag").alias("return_flag"),
        F.col("l_linestatus").alias("line_status"),
        F.col("l_shipdate").alias("create_time"),
    )
