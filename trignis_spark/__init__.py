"""trignis_spark — a PySpark-native change-data + training-data pipeline engine.

Re-expresses the capabilities of the reference CDC relay (melosso/trignis,
see SURVEY.md) Spark-first:

- change feeds (outbox scan, snapshot diff, column masking, envelopes)
  as declarative DataFrame plans (``trignis_spark.operators.changefeed``)
- watermark / pause / dead-letter state in stdlib SQLite stores, as the
  reference keeps them (``trignis_spark.state``, ``trignis_spark.deadletter``)
- multi-sink at-least-once fan-out with retry/breaker/backoff
  (``trignis_spark.sinks``, ``trignis_spark.streaming``)
- JDBC incremental sources with dialect tables (``trignis_spark.sources``)
- large-scale training-data operators: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard), similarity search, text analysis,
  multimodal columns (``trignis_spark.operators``)

Everything is built on the DataFrame API so Catalyst handles pushdown,
pruning, join strategy and AQE; Python UDFs are avoided in hot paths.
"""

__version__ = "0.1.0"
