"""kitkat_spark — a PySpark-native analytics engine with the capabilities of
waltzofpearls/kitkat (Kinesis producer/consumer dataflow), rebuilt Spark-first.

Layout:
    session     SparkSession factory tuned for local[32] testing and cluster scale
    sources     table loaders (parquet star schema) + line/stream sources
    functions   scalar/UDF surface: KPL protobuf codec, zlib, text, vectors
    operators   relational / temporal / dedup / similarity / text / multimodal
    streaming   Structured Streaming parity with the reference consumer/producer
    plans       plan-inspection helpers (pushdown/broadcast assertions)

The reference (/root/reference, Go) is a shard-parallel Kinesis tailer:
its operator surface (SURVEY.md §2.A) maps onto Structured Streaming; the
driver-mandated analytic surface (SURVEY.md §2.B) is pure DataFrame/Catalyst.
"""

__version__ = "0.1.0"
