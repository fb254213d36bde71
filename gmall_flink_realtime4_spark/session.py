"""SparkSession factory and runtime conf normalization.

The reference builds a ``StreamExecutionEnvironment`` per app
(``realtime-common/.../base/BaseAPP.java:20-66``); here one SparkSession
serves every pipeline. Confs are split into:

- BUILD_CONFS: set at builder time when *we* own the session (tests, bench,
  tools), together with the machine-sized ``local[N]`` and driver heap
  (``cpus``, ``driver_memory``; ``owned_confs`` merges them).
- RUNTIME_CONFS: safe to set on an externally-created session (the driver's
  verify harness builds its own SparkSession and passes it in) — session
  timezone, parquet nanos handling, AQE/shuffle sizing, the streaming
  checkpoint file manager.

Determinism notes (for the DuckDB oracle gate):
- session timezone is pinned to UTC so TIMESTAMP / date_format results are
  byte-identical to DuckDB's naive-timestamp view of the same parquet;
- ``spark.sql.legacy.parquet.nanosAsLong=true`` because the driver testdata's
  ``events.parquet`` carries TIMESTAMP(NANOS) which Spark 4 otherwise rejects
  (tables.events_table converts nanos -> TIMESTAMP_NTZ micros, matching
  DuckDB's nanos->micros truncation).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# An unset SPARK_GRAFT_* sizes the session from the machine, capped at the
# widths the engine was tuned on; an explicit value always wins.
MAX_DEFAULT_CPUS = 32
MAX_DEFAULT_DRIVER_MEM_MB = 16 * 1024


def cpus() -> str:
    """Cores for ``local[N]`` and the shuffle width: ``$SPARK_GRAFT_CPUS``,
    else the CPUs this process may run on, at most ``MAX_DEFAULT_CPUS``."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        min(MAX_DEFAULT_CPUS, len(os.sched_getaffinity(0)))
    )


def driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else half of physical
    memory, at most ``MAX_DEFAULT_DRIVER_MEM_MB``."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{min(MAX_DEFAULT_DRIVER_MEM_MB, ram_mb // 2)}m"
    )


# Confs that are legal to set on a live session (checked: all runtime-settable
# on Spark 4.1).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # the engine is built and tested under Spark 4's ANSI default; pin it
    # so a hostile session with ansi=false runs the tested configuration
    # (expressions are written to be mode-agnostic — in-range element_at,
    # overflow-free decimal accumulators, try_*/guarded casts — but the
    # pin removes the matrix)
    "spark.sql.ansi.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (part/supplier/nation/region/config tables) are small: keep the
    # broadcast threshold generous so every dim-enrichment join broadcasts
    # (replaces the reference's Redis/HBase cache-aside + async I/O,
    # DimAsyncFunction.java:39-82).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # runtime-settable: the driver's own session defaults to 200 shuffle
    # partitions — size the shuffles to the box like our own sessions do
    # (AQE still coalesces below this; purely a perf normalization)
    "spark.sql.shuffle.partitions": cpus(),
    # Streaming checkpoints (offset/commit logs, state deltas, snapshots and
    # their checksum files) go through FileSystem, not Spark's default
    # FileContext manager. Without the native-hadoop library the local
    # FileContext path forks a shell per file (`readlink` on every rename,
    # `chmod` on create), and the state-store tasks spent most of their
    # wall time waiting on those forks. This manager writes a temp file and
    # renames it, with the same file names and layout; Spark's checkpoint
    # checksums (fileChecksum.enabled, left on) and Hadoop's .crc sidecars
    # are kept. The class moved package in Spark 4.1 (tests/test_streaming.py
    # loads it through the JVM).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}

BUILD_CONFS: dict[str, str] = {
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Generated classes stay compiled for a whole registry pass. The cache
    # is JVM-wide and static (unsettable on a live session); Spark's default
    # of 100 entries is below ONE warehouse pass. Measured at sf0.001,
    # local[4]: the ten perfbench warehouse queries need ~165 distinct
    # classes and one pass over all 135 queries ~2,200, so at 100 every warm
    # warehouse pass recompiled 100-150 classes with Janino and ran them
    # interpreted until the JIT caught up, and a warm registry pass 2,705
    # (large queries evict their own classes mid-query). At 4096 a warm
    # registry pass compiles 150 (sources that differ between plan builds)
    # and runs in 50.7 s against 64.4 s; the code cache never filled and
    # metaspace used 204 MB against 187 MB. 4096 holds a registry pass with
    # headroom. Perf only: a driver-owned session keeps its own cache size.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # PySpark records the Python call site of every F.* / DataFrame call for
    # error messages (~5 py4j round trips and a stack walk each) unless this
    # is false; PySpark reads it once per process from the first active
    # session, so it belongs to the builder. Error contexts lose the Python
    # call site; plan build gets ~a quarter cheaper (the ten warehouse plans,
    # warm, local[4]: median 0.93 -> 0.70 s).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def owned_confs() -> dict[str, str]:
    """Every builder conf for a session we own, sized from the machine now
    (a tool may set ``SPARK_GRAFT_DRIVER_MEM`` after importing this module).

    local mode = one JVM; the default 1g heap cannot hold a 64 MB
    broadcast's hashed relation next to execution memory (observed OOM
    building broadcasts at 10x scale). Harmless when a session already
    exists (builder confs are ignored then, and the runtime confs still
    apply).
    """
    return {
        **BUILD_CONFS,
        "spark.driver.memory": driver_memory(),
        **RUNTIME_CONFS,
    }


# Marker conf recording a shuffle-partition count a caller PINNED
# explicitly (get_spark(shuffle_partitions=...)). apply_runtime_confs
# runs on every registered-query call and must not clobber it.
_PIN_CONF = "spark.gmall.pinnedShufflePartitions"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Normalize an externally-created session (driver harness) in place."""
    try:
        pinned = spark.conf.get(_PIN_CONF, None)
    except Exception:
        pinned = None
    for k, v in RUNTIME_CONFS.items():
        if k == "spark.sql.shuffle.partitions" and pinned is not None:
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable on this build: keep going, individual queries
            # fall back to tz-independent expressions where possible.
            pass
    return spark


def get_spark(
    app_name: str = "gmall_flink_realtime4_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[cpus()]`` outside a cluster.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus()}]")
    for k, v in owned_confs().items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    if shuffle_partitions is not None:
        # pin explicitly (getOrCreate may have returned a pre-existing
        # session whose builder confs were ignored) and mark the pin so
        # the per-query runtime normalization leaves it alone
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        spark.conf.set(_PIN_CONF, str(shuffle_partitions))
    return apply_runtime_confs(spark)
