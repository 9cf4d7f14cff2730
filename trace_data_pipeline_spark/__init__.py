"""trace_data_pipeline_spark — a PySpark-native analytics engine.

Re-expresses the operator suite of the reference TRACE data pipeline
(Alexander-M-Dickerson/trace-data-pipeline) as idiomatic Spark
DataFrame/SQL plans: Dick-Nielsen cleaning anti-joins, error-correction
window operators, daily panel aggregation, as-of / interval / linker
enrichment joins, plus large-scale training-data operators (dedup,
similarity search, text analysis) and a Structured Streaming surface.

Layout:
  session     — SparkSession factory tuned for the target scale
  sources     — table registry / parquet readers
  functions   — scalar & ordered-aggregation helpers
  operators   — the reference's operator inventory (SURVEY.md §2)
  datapipe    — training-data pipeline operators (dedup/similarity/text)
  streaming   — Structured Streaming: daily aggregation, watermark-
                bounded exact dedup, Kafka source adapter
  plans       — the query catalog wired to the driver contract
  run         — pipeline runner CLI (python -m trace_data_pipeline_spark.run)
  sql         — temp-view layer exposing tables + queries to spark.sql
"""

__version__ = "0.1.0"
