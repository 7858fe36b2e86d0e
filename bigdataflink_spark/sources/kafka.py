"""Kafka wire projection and sink builder (SURVEY.md §2.1 S2/S3).

No broker (or kafka connector jar) ships in this container, so the
``format("kafka")`` reader itself can't run here — but everything
AFTER ``.load()`` can: ``project_kafka_records`` is the production
offset→``arrival_seq`` projection, exercised by
``tests/test_kafka_contract.py`` over a recorded wire-format stream
(same schema Kafka's source emits), including redelivery replay.
Payloads mirror the reference:

* source records: value-only string in offset order
  (stream_to_star.py:305-315)
* sink: UTF-8 JSON of the whole row (csv_to_kafka.py:17-22)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The schema the Kafka source emits after .load() — documented at
# https://spark.apache.org/docs/latest/structured-streaming-kafka-integration.html
# Recorded-offset fixtures replay through this exact shape.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def project_kafka_records(df: DataFrame) -> DataFrame:
    """Kafka wire records → (value string, arrival_seq long).

    The offset IS the arrival_seq: per-partition total order, and the
    reference runs ONE partition for a global order
    (stream_to_star.py:305-315) — so downstream last-write-wins
    resolves conflicts in broker order, and a redelivered (replayed)
    offset can never beat a later one.
    """
    return df.select(
        F.col("value").cast("string").alias("value"),
        F.col("offset").cast("long").alias("arrival_seq"),
    )


def kafka_json_sink(df: DataFrame, bootstrap_servers: str, topic: str = "sales"):
    """Batch write: every row serialized as one JSON message."""
    return (
        df.select(F.to_json(F.struct("*")).alias("value"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )
