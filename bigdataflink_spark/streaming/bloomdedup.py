"""Streaming Bloom seen-set — the streaming twin of
``operators.sketches.bloom_positions``/``bloom_membership`` (round 9:
every other dedup family — near-dup, semantic — already carries a
parity-tested streaming twin; the membership sketch now does too).

Semantics: each micro-batch's keys are flagged ``seen_before`` —
member of the Bloom filter built from all keys of strictly EARLIER
batches — then the batch's own positions are appended to state. This
is the URL-frontier / crawl-segment shape: batch granularity, not
per-row ordering (a Bloom filter has no notion of within-batch
arrival; keys repeated INSIDE one batch are one probe). Verdicts are
probabilistic exactly like the batch operator: no false negatives
ever, deterministic md5-driven false positives — so stream-over-
slices ≡ per-slice batch ``bloom_membership`` against the union of
earlier slices, EXACTLY, and a DuckDB oracle can replay every
verdict (q215).

State is one append-only parquet dir of DISTINCT positions:

* ``<state>/positions`` — (pos) rows in [0, m). Each append writes
  only positions not already present (left-anti against the state),
  so the directory holds ≤ m rows TOTAL across any number of
  batches — the state of a Bloom filter is bounded by construction,
  which is the whole reason this sketch scales to an unbounded
  stream where an exact seen-set grows forever. The membership join
  broadcasts it.

Exactly-once caveat (same as run_neardup_stream/run_semdedup_stream):
the state append is not transactional with the checkpoint. STATE is
idempotent under replay (re-appended positions are filtered by the
anti-join; the directory never grows past m rows) — but a replayed
batch's VERDICTS are at-arrival: if the failed attempt had already
appended, the replay probes against a filter that contains the
batch's own keys and flags them seen_before. That is the standard
at-least-once horizon of a monotone seen-set (a key is never
UN-seen), stated here precisely because it is easy to oversell
(round-11 correction; the substring twin's replay test pins the same
shape for its family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.sketches import (
    bloom_membership_bits,
    bloom_positions,
)
from bigdataflink_spark.streaming.statestore import read_state


def accept_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    key_col: str = "key",
    m: int = 16_384,
    k: int = 4,
    salt: str = "bloom-v1",
) -> DataFrame:
    """One streaming step: returns the batch's DISTINCT keys with
    ``seen_before`` (Bloom membership against the PRIOR state), then
    appends the batch's new positions. Usable directly for
    backfills and slice-by-slice replays (q215 drives it per slice)."""
    pos_dir = os.path.join(state_dir, "positions")
    batch = batch.localCheckpoint(eager=True)
    # path-missing (first batch) is the ONLY silent case; a read error
    # on existing state must propagate — silently restarting with an
    # empty filter would break "no false negatives ever" (r9 verdict)
    state = read_state(spark, pos_dir)
    have_state = state is not None

    if have_state:
        # bitset path (round 11): verdicts identical to
        # bloom_membership (same md5 position formula — unit-pinned),
        # but the explode+join+groupBy verdict leg's two per-trigger
        # shuffles become ZERO — the <= m positions collect into m/64
        # longs and each distinct key runs k pure-JVM bit tests
        verdict = bloom_membership_bits(
            batch, key_col, state, m=m, k=k, salt=salt
        ).withColumnRenamed("member", "seen_before")
    else:
        verdict = (
            batch.select(F.col(key_col).cast("string").alias("probe_key"))
            .distinct()
            .withColumn("seen_before", F.lit(False))
        )
    # No verdict pin needed (round 13): bloom_membership_bits
    # COLLECTS the prior state into a driver bitset at call time, so
    # the verdict plan has no state-file dependency the append below
    # could corrupt — its only input is the checkpointed batch. The
    # old eager checkpoint here was one redundant job per trigger.
    new_pos = bloom_positions(batch, key_col, m=m, k=k, salt=salt)
    if have_state:
        new_pos = new_pos.join(state, "pos", "left_anti")
    new_pos.write.mode("append").parquet(pos_dir)
    return verdict

