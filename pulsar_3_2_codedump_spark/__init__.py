"""pulsar_3_2_codedump_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of Apache Pulsar 3.2
(reference: huangxiaofeng10047/pulsar-3.2-codedump).

This is NOT a port of Pulsar's Java broker.  The reference tells us WHAT to
compute (topics, per-key latest-value, dedup, delayed delivery, windowed
functions, transactions-as-atomic-commit); the HOW is idiomatic Spark:
DataFrame/SQL declarative plans optimized by Catalyst, Structured Streaming
for the pub-sub surface, parquet segment files for the at-rest log.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, shuffle sizing)
- ``envelope``   : the canonical message envelope StructType (PulsarApi.proto:106-166)
- ``catalog``    : fixture loading / view registration
- ``topic``      : topic = partitioned directory of parquet segments + manifest
- ``sources``    : the custom "pulsarlike" streaming source (Python Data Source API)
- ``operators``  : compaction, tableview, dedup, time ops, routing, windows, relational
- ``functions``  : text analysis, minhash/simhash dedup, similarity search, multimodal
- ``streaming``  : delayed delivery, function runtime, replicator
- ``queries``    : the registry that __spark_entry__ exposes to the driver
"""

__version__ = "0.1.0"
