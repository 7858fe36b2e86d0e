"""Streaming statistical-moment state: incrementally-maintained
per-group (count, Σv, Σv²) with batch-exact mean/stddev.

The same mergeable-partials design as streaming/rollup.py (per-batch
partial under ``parts/batch_id=N`` → idempotent on replay, final
merge at read time), applied to the moment sums behind
operators/timeseries.zscore_flags. Because the partials accumulate in
EXACT decimal, the merged mean/stddev are bit-identical to a one-shot
batch aggregation over the same rows — any batch slicing, any replay
(pinned by the parity test against zscore_flags).

This is the streaming half of the anomaly audit: moments fold
incrementally (they're commutative monoid sums); the |z| > t flags
need the FINAL stats, so ``anomaly_audit`` applies the merged state
to a batch of rows — the replayable scoring pass. A 1000-executor
deployment keeps the per-type state rows tiny (one per group per
batch, compacted like the rollup) while raw events stream through
unretained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.timeseries import _exact_moments
from bigdataflink_spark.streaming.statestore import start_foreach_batch


def moments_batch(
    batch: DataFrame,
    batch_id: int,
    parts_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """foreachBatch body: this batch's partial moment sums."""
    part = batch.groupBy(group_col).agg(*_exact_moments(value_col))
    part.write.mode("overwrite").parquet(f"{parts_dir}/batch_id={batch_id}")


def read_moments(
    spark: SparkSession, parts_dir: str, group_col: str = "event_type"
) -> DataFrame:
    """Merged state → (group, n, mean, stddev) with the exact formula
    zscore_flags uses (decimal sums folded first, double math last)."""
    parts = spark.read.option("basePath", parts_dir).parquet(
        f"{parts_dir}/batch_id=*"
    )
    merged = parts.groupBy(group_col).agg(
        F.sum("n").alias("n"),
        F.sum("_s1").alias("_s1"),
        F.sum("_s2").alias("_s2"),
    )
    return merged.select(
        group_col,
        "n",
        (F.col("_s1").cast("double") / F.col("n")).alias("_mean"),
        F.sqrt(
            (
                F.col("_s2").cast("double")
                - F.col("_s1").cast("double")
                * F.col("_s1").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("_std"),
    )


def anomaly_audit(
    rows: DataFrame,
    stats: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    threshold: float = 2.0,
) -> DataFrame:
    """Score ``rows`` against merged streaming stats — same output
    schema as operators/timeseries.zscore_flags, so the streaming
    state is interchangeable with the batch operator."""
    z = (F.col(value_col).cast("double") - F.col("_mean")) / F.col("_std")
    flagged = rows.join(F.broadcast(stats), group_col).select(
        group_col, "n", "_mean", "_std", z.alias("_z")
    )
    return (
        flagged.groupBy(group_col, "n", "_mean", "_std")
        .agg(
            F.sum(
                F.when(F.abs(F.col("_z")) > threshold, 1).otherwise(0)
            ).alias("anomalies")
        )
        .select(
            group_col,
            "n",
            "anomalies",
            F.round("_mean", 4).alias("mean_value"),
            F.round("_std", 4).alias("stddev_value"),
        )
    )


def run_moments_stream(
    spark: SparkSession,
    stream: DataFrame,
    parts_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Drive the stream to completion (availableNow) and return the
    merged moment state."""
    start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda b, bid: moments_batch(b, bid, parts_dir, group_col, value_col),
    ).awaitTermination()
    return read_moments(spark, parts_dir, group_col)
