"""Streaming heavy hitters: incrementally-maintained token counts
with an exact top-k view — the rollup/moments mergeable-partials
design applied to corpus term statistics.

Each micro-batch writes its per-token partial counts under
``parts/batch_id=N`` (overwriting its own directory → idempotent on
replay); the top-k reader merges and ranks. Counts are integers, so
the merged state is EXACTLY the one-shot batch answer under any batch
slicing or redelivery — no sketch error. State size is vocabulary-
scaled (distinct tokens), not corpus-scaled: the explode never
persists, only the per-batch aggregate does. When even the vocabulary
is too hot for per-batch parts at 100 TB, cap each batch's partial to
its own top-M ≫ k and accept the standard SpaceSaving-style
undercount bound — the exact path is the default because token
vocabularies are usually millions, not billions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.text import tokens
from bigdataflink_spark.streaming.statestore import start_foreach_batch


def topk_batch(
    batch: DataFrame, batch_id: int, parts_dir: str, text_col: str = "text"
) -> None:
    """foreachBatch body: this batch's partial token counts."""
    part = (
        batch.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    part.write.mode("overwrite").parquet(f"{parts_dir}/batch_id={batch_id}")


def read_topk(spark: SparkSession, parts_dir: str, k: int = 10) -> DataFrame:
    """Merged state → exact top-k tokens (count desc, token asc
    tiebreak so the ranking is total)."""
    parts = spark.read.option("basePath", parts_dir).parquet(
        f"{parts_dir}/batch_id=*"
    )
    merged = parts.groupBy("token").agg(F.sum("cnt").alias("cnt"))
    return merged.orderBy(F.desc("cnt"), F.asc("token")).limit(k)


def run_topk_stream(
    spark: SparkSession,
    stream: DataFrame,
    parts_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Drive the stream to completion (availableNow) and return the
    exact top-k view over the merged counts."""
    start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda b, bid: topk_batch(b, bid, parts_dir, text_col),
    ).awaitTermination()
    return read_topk(spark, parts_dir, k)
