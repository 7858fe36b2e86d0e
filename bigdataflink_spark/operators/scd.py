"""Slowly-changing-dimension (SCD type 2) history building.

The reference's star schema keeps only the LATEST version of each
dimension row — `ON CONFLICT ... DO UPDATE` last-write-wins
(reference flink/stream_to_star.py:116-121). SCD2 is the standard
warehouse extension when history matters: each change to a tracked
attribute closes the current version (valid_to = change time) and
opens a new one (valid_to = NULL for the live row).

Spark-first shape: change detection is one `lag()` per key and
interval assembly one `lead()` — two window passes over the SAME
(key × time) sort, so Catalyst plans a single sort + two Window
operators with no extra exchange. Cost is one keyed shuffle
regardless of history depth; no self-joins, no per-row upserts. At
100 TB this is the append-log → dimension-history compaction job, run
per partition-of-key; the windows never see more than one key's
timeline at once, so skew maps to key cardinality, not history size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_history(
    changes: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Collapse an event log into SCD2 version intervals.

    Input: one row per observation (key, attr, ts[, tiebreak]).
    Output: one row per VERSION — (key, attr, valid_from_us,
    valid_to_us, version) where consecutive observations with the same
    attr value merge into one interval, valid_to_us is the next
    version's start (NULL for the live version), and version numbers
    count from 1 in time order.

    Determinism: ties on ts break on ``tiebreak_col`` (e.g. a source
    sequence/event id) — same contract as the LWW dedup operators.
    """
    order: list[Column] = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)

    # NULL-safe change detection: `!=` would miss value->NULL flips,
    # and a bare `_prev IS NULL` can't tell "no prior row" from
    # "prior attr was NULL" — row_number disambiguates the first row.
    carry = [F.col(tiebreak_col)] if tiebreak_col is not None else []
    changed = changes.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col),
        *carry,
        F.lag(attr_col).over(w).alias("_prev"),
        F.row_number().over(w).alias("_rn"),
    ).filter(
        (F.col("_rn") == 1) | ~F.col(attr_col).eqNullSafe(F.col("_prev"))
    )

    # interval window keeps the tiebreak too — equal-ts change rows
    # would otherwise make lead()/version order nondeterministic
    wv = Window.partitionBy(key_col).orderBy(*order)
    return changed.select(
        F.col(key_col),
        F.col(attr_col),
        F.unix_micros(ts_col).alias("valid_from_us"),
        F.unix_micros(F.lead(ts_col).over(wv)).alias("valid_to_us"),
        F.row_number().over(wv).cast("long").alias("version"),
    )


def pit_join(
    probe: DataFrame,
    history: DataFrame,
    key_col: str,
    ts_us_col: str,
) -> DataFrame:
    """Point-in-time JOIN: each probe row picks up the history version
    whose validity interval contains its timestamp — the "as was"
    enrichment every backtest / training-snapshot pipeline needs
    (never "as is", which leaks the future).

    Shape: an equi-join on the key followed by the interval predicate.
    Catalyst executes the equi-part as a hash join, so the interval
    check only ever scans ONE key's versions — cost is keyed-shuffle +
    per-key version count, never a cross product. Probe rows before a
    key's first version drop out (inner semantics); at most one
    version matches because intervals partition the timeline.
    """
    return probe.join(history, on=key_col, how="inner").filter(
        (F.col("valid_from_us") <= F.col(ts_us_col))
        & (
            F.col("valid_to_us").isNull()
            | (F.col(ts_us_col) < F.col("valid_to_us"))
        )
    )
