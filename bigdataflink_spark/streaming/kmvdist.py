"""Streaming KMV distinct sketch — the streaming twin of
``operators.sketches.kmv_sketch`` (round 10: Bloom got its twin in
round 9 / q215; KMV and CMS merge as semilattice/sum, so the same
bounded-state ``accept_batch`` shape finishes the sketch family —
r9 verdict "What's missing #2").

Semantics: after each micro-batch, emit the running distinct-count
estimate over ALL keys seen so far. The state is the set of hashes
that ever ENTERED the bottom-k: each batch appends (anti-joined, so
appends are idempotent under replay) at most its OWN bottom-k,
filtered to hashes smaller than the state's current kth-smallest —
a hash excluded by either cut is dominated by k smaller hashes
already present, so it can never enter the global bottom-k and
bottom-k(state) == bottom-k(all keys ever seen), exactly. State is
≤ k rows per batch worst-case, k·(1 + ln(n/k)) expected — k plus
one row per bottom-k displacement, logarithmic in stream length —
and every read touches only this tiny directory (broadcast-scale).

Like the batch sketch, the summary is a pure function of the key
SET of the slices seen so far — order-, partitioning- and
replay-invariant — so stream-over-slices ≡ the batch sketch over the
union of earlier slices EXACTLY, and a DuckDB oracle replays every
per-batch estimate (q218).

Exactly-once caveat (same as the other twins): the state append is
not transactional with the checkpoint, but a replayed batch is
idempotent — its qualifying hashes are already present and the
anti-join appends nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.sketches import (
    KMV_DOMAIN,
    kmv_hashes,
)
from bigdataflink_spark.streaming.statestore import read_state, start_foreach_batch


def accept_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    key_col: str = "key",
    k: int = 256,
    salt: str = "kmv-v1",
) -> DataFrame:
    """One streaming step: fold the batch's hashes into the
    entered-bottom-k state and return ONE row ``(n_candidates,
    estimate)`` — the running distinct estimate over every key seen
    so far (exact count while the sketch is unfilled). Usable
    directly for backfills; ``run_kmv_stream`` wraps it in
    foreachBatch."""
    hx_dir = os.path.join(state_dir, "hashes")
    # each batch contributes at most its own bottom-k: any hash not in
    # the batch's bottom-k is dominated by k smaller hashes appended in
    # the same step, so it can never enter the global bottom-k
    batch_h = (
        kmv_hashes(batch, key_col, salt).distinct().orderBy("h").limit(k)
    )
    state = read_state(spark, hx_dir)
    if state is not None:
        # current kth-smallest (None while unfilled): only hashes
        # below it can ever matter; anti-join keeps appends idempotent
        bottom = state.orderBy("h").limit(k)
        kth = bottom.agg(
            F.when(F.count("*") < k, F.lit(None).cast("long"))
            .otherwise(F.max("h"))
            .alias("kth")
        )
        cand = batch_h.crossJoin(F.broadcast(kth)).filter(
            F.col("kth").isNull() | (F.col("h") < F.col("kth"))
        ).select("h")
        new_rows = cand.join(state, "h", "left_anti")
    else:
        new_rows = batch_h
    new_rows.write.mode("append").parquet(hx_dir)

    merged = spark.read.parquet(hx_dir).orderBy("h").limit(k)
    agg = merged.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.max("h").alias("kth"),
    )
    num = (k - 1) * KMV_DOMAIN
    return agg.select(
        "n_candidates",
        F.expr(
            f"CASE WHEN n_candidates < {k} THEN n_candidates"
            f" ELSE CAST({num} DIV kth AS BIGINT) END"
        ).alias("estimate"),
    )


def run_kmv_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    key_col: str = "key",
    k: int = 256,
    salt: str = "kmv-v1",
) -> None:
    """Drain ``stream`` (availableNow) through the online sketch; one
    (batch_id, n_candidates, estimate) row per micro-batch lands in
    ``out_dir`` as parquet."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        row = accept_batch(spark, batch_df, state_dir, key_col, k, salt)
        row.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    start_foreach_batch(stream, checkpoint_dir, _process).awaitTermination()
