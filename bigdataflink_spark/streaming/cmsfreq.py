"""Streaming Count-Min frequency sketch — the streaming twin of
``operators.sketches.cms_build``/``cms_estimate`` (round 10; with
q215's Bloom twin and kmvdist.py this finishes the sketch family's
streaming side — r9 verdict "What's missing #2").

CMS counters are SUMS, so unlike the set-union twins the state value
CHANGES every batch — an append-only delta log would double-count on
replay. The state here is therefore a sequence of GENERATIONS: batch
``b`` reads the newest complete generation with index < b, re-sums
the batch's counters into it, and writes the merged ≤ d·w-row table
to ``gen-<b>`` (parquet overwrite; the ``_SUCCESS`` marker makes a
generation visible only when complete — the snapshots.py
record-then-data discipline in its simplest form). A replayed batch
reads the SAME earlier generation and rewrites ``gen-<b>``
byte-identically (the counters are a pure function of the slices
≤ b), so replays are idempotent by construction. Each generation is
≤ d·w rows; :func:`vacuum_generations` drops superseded ones, so
live state is bounded regardless of stream length.

Stream-over-slices ≡ batch ``cms_build`` over the union of slices
seen so far, EXACTLY (sums are associative/commutative), so every
per-batch estimate replays in SQL — a full value-hash oracle for a
stateful streaming operator (q219).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.sketches import cms_build
from bigdataflink_spark.sources.formats import hadoop_fs
from bigdataflink_spark.streaming.statestore import start_foreach_batch


def complete_generations(spark: SparkSession, state_dir: str) -> list[int]:
    """Indices of complete (``_SUCCESS``-marked) generations,
    ascending. Incomplete directories (crash mid-write) are invisible
    until their batch replays and overwrites them."""
    fs, hpath, jvm = hadoop_fs(spark, state_dir)
    if not fs.exists(hpath):
        return []
    gens = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("gen-") and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            gens.append(int(name[4:]))
    return sorted(gens)


def _gen_path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"gen-{batch_id:09d}")


def accept_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: int,
    key_col: str = "key",
    d: int = 4,
    w: int = 8_192,
    salt: str = "cms-v1",
) -> DataFrame:
    """One streaming step: re-sum the batch's counters into the
    newest generation with index < ``batch_id`` and publish the
    merged table as ``gen-<batch_id>``. Returns the published
    counters (read back from the written generation, so downstream
    probes see persisted state). Usable directly for backfills with
    caller-supplied increasing batch ids."""
    # No batch checkpoint (round 13): the batch feeds exactly one
    # consumer (the delta build below), and the merged generation is
    # itself eagerly checkpointed before publish — materializing the
    # raw batch first was one redundant full-batch job per trigger.
    deltas = cms_build(batch, key_col, d=d, w=w, salt=salt)
    prior = [g for g in complete_generations(spark, state_dir) if g < batch_id]
    if prior:
        prev = spark.read.parquet(_gen_path(state_dir, prior[-1]))
        merged = (
            deltas.unionByName(prev)
            .groupBy("row", "pos")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = deltas
    # pin the merged table BEFORE publishing: the caller's handle must
    # survive a replay overwriting this generation's files (≤ d·w rows)
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(_gen_path(state_dir, batch_id))
    return merged


def vacuum_generations(
    spark: SparkSession, state_dir: str, keep: int = 1
) -> list[int]:
    """Drop all but the newest ``keep`` complete generations (plus
    any incomplete leftovers below them); returns the dropped
    indices. Keeps live state bounded at keep·d·w rows."""
    gens = complete_generations(spark, state_dir)
    drop = gens[:-keep] if keep > 0 else gens
    fs, _, jvm = hadoop_fs(spark, state_dir)
    for g in drop:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_gen_path(state_dir, g)), True)
    return drop


def run_cms_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    probes: "list[str]",
    key_col: str = "key",
    d: int = 4,
    w: int = 8_192,
    salt: str = "cms-v1",
) -> None:
    """Drain ``stream`` (availableNow) through the online sketch; per
    batch, the running frequency estimate of each probe key lands in
    ``out_dir`` as (batch_id, probe_key, est) parquet rows."""
    from bigdataflink_spark.operators.sketches import cms_estimate

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        counters = accept_batch(
            spark, batch_df, state_dir, batch_id, key_col, d, w, salt
        )
        probe_df = spark.createDataFrame(
            [(p,) for p in probes], f"{key_col} string"
        )
        est = cms_estimate(probe_df, key_col, counters, d=d, w=w, salt=salt)
        est.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    start_foreach_batch(stream, checkpoint_dir, _process).awaitTermination()
