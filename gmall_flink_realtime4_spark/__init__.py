"""gmall_flink_realtime4_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference Flink warehouse ``zengge23/gmall-flink-realtime4`` (a Kappa-style
layered streaming warehouse: ODS Kafka -> DIM -> DWD -> DWS), re-expressed
Spark-first:

- DataFrame / Spark SQL declarative plans (Catalyst optimizes; no
  hand-scheduled operators),
- Structured Streaming for the streaming twins (watermarks + windows +
  ``applyInPandasWithState`` keyed state),
- broadcast stream-static joins replacing the reference's Redis/HBase
  cache-aside async dim lookups,
- LLM-scale data-pipeline extensions (dedup, similarity search, text
  analysis, multimodal plumbing) designed for 100 TB scale.

Layout:
  session.py    SparkSession factory + runtime conf normalization
  tables.py     driver-testdata loaders + reference-domain adapters
  schemas.py    CDC envelope / behavior-log StructTypes
  plans/        registered queries + DuckDB oracles: the warehouse layers
                (dwd/dws/log/window/func) and the domain modules (dedup,
                retrieval, text, corpus, dq, olap, llm_multimodal)
  operators/    shared primitives (dedup, windows, joins, split, state,
                graph, pq, vectors, minhash, hashing, stopwords)
  functions/    scalar/UDF surface (keyword tokenizer)
  pipelines/    one transform module per reference app
  sources/      topic_db CDC source
  sinks/        routed-Kafka frame + idempotent parquet upsert sinks
  streaming/    runners wiring source -> transform -> sink, and the
                incremental (foreachBatch) twins
"""

__version__ = "0.1.0"
