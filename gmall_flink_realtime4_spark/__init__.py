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
  plans/        batch/streaming-unified query definitions + oracle registry
  operators/    reusable operator library (dedup, windows, joins, split, state)
  functions/    scalar/UDF surface (dates, json, tokenizer)
  sources/      Kafka / file / rate / CDC-envelope source factories
  sinks/        Kafka / parquet-upsert / console sink factories
  streaming/    runners wiring source -> transform -> sink
  llm/          dedup / similarity / text-analysis / multimodal operators
"""

__version__ = "0.1.0"
