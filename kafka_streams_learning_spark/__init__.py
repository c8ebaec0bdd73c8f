"""kafka_streams_learning_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference Kafka Streams learning repo (`its-rahulsoni/kafka-streams-learning`,
read-only at /root/reference), re-expressed Spark-first:

- DataFrame/SQL logical plans; Catalyst/Tungsten pick physical strategy.
- Structured Streaming for the streaming surface (update-mode counts,
  watermarked windows, interval joins, applyInPandasWithState).
- Every operator has a *batch mode* (same expressions over bounded data),
  which is the oracle-checkable surface and the 100 TB backfill path.

Nothing here is a translation of the reference's Java topology code; see
SURVEY.md for the semantic map (each operator cites reference file:line).
"""

from kafka_streams_learning_spark._zipimport_guard import install as _install_zip_guard

# First, so every Python worker that unpickles an engine function stops
# re-reading pyspark.zip and the spark-core jar on each task.
_install_zip_guard()

from kafka_streams_learning_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
