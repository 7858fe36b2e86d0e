"""Incremental SCD2 history maintenance over a micro-batched
observation stream — the streaming twin of ``operators/scd.
scd2_history`` (same pairing discipline as streaming/neardup.py and
streaming/moments.py: the batch operator defines the truth, the
streaming maintainer must converge to it bit-exactly).

The reference keeps only the LATEST dimension row per key
(``ON CONFLICT … DO UPDATE``, flink/stream_to_star.py:116-121);
this maintainer keeps the full versioned history while staying
incremental: state is the per-key CHANGE LOG (one row per version
start), bucketed like streaming/merge.py's LWW store, so each
micro-batch reads and rewrites only the buckets its keys hash into
— O(dirty buckets) write amplification, never O(history).

Why the change log suffices: a new observation only needs the attr
of the version that precedes it. Re-collapsing (change log ∪ batch)
per key — keep a row iff it's the key's first or differs NULL-safely
from its predecessor — reproduces exactly what ``scd2_history``
would emit over the full observation log, PROVIDED each key's
observations arrive in nondecreasing event-time order across batches
(standard CDC delivery). Late rows that violate the contract are
DROPPED (counted by the caller via the returned metric), because a
late row could land inside a collapsed same-attr run whose interior
observations no longer exist — no incremental store below the full
log can re-expand that run, so silent insertion would diverge from
the batch truth.

Lateness is judged against the per-key OBSERVED frontier — the max
(ts, seq) ever merged, carried on every state row as
(``_obs_us``, ``_obs_seq``) — NOT against the change log's max ts
(ADVICE r2): a same-attr run's interior observations collapse away,
so the change-log max understates what was seen and would let a row
land inside the collapsed run undetected.

Versions/valid_to are NOT stored — they are derived on read with one
lead() window (``read_scd2_history``), so the state never needs
in-place updates when a live version closes: closing a version is
just the next change row appearing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataflink_spark.streaming.merge import (
    BUCKET_COL,
    _fs_and_path,
    _read_meta,
    _state_df,
    _write_meta,
)


def merge_scd2_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    num_buckets: int = 32,
) -> int:
    """Merge one micro-batch of observations (key, attr, ts, tiebreak)
    into the bucketed SCD2 change-log state at ``path``.

    Returns the number of LATE rows dropped ((ts, tiebreak) strictly
    before the key's observed frontier — see module docstring for why
    they cannot be honored incrementally).
    """
    inc = batch.select(
        F.col(key_col),
        F.col(attr_col),
        # cast handles TIMESTAMP_NTZ sources (naive-as-UTC under the
        # engine-wide UTC session contract); plain TIMESTAMP is a no-op
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        F.col(tiebreak_col).cast("long").alias("_seq"),
    ).withColumn(BUCKET_COL, F.pmod(F.hash(F.col(key_col)), F.lit(num_buckets)))

    fs, hpath = _fs_and_path(spark, path)
    n_late = 0
    old_frontier = None
    if fs.exists(hpath):
        meta = _read_meta(spark, path)
        if meta is not None and meta.get("num_buckets") != num_buckets:
            raise ValueError(
                f"SCD2 state at {path} was bucketed with "
                f"num_buckets={meta.get('num_buckets')}; merging with "
                f"{num_buckets} would corrupt it."
            )
        dirty = [r[0] for r in inc.select(BUCKET_COL).distinct().collect()]
        existing = _state_df(spark, path, meta).filter(F.col(BUCKET_COL).isin(dirty))
        # drop-late gate vs the OBSERVED frontier (every state row of a
        # key carries the same (_obs_us, _obs_seq)); legacy state
        # without the columns falls back to the change-log max
        if "_obs_us" in existing.columns:
            old_frontier = existing.groupBy(key_col).agg(
                F.max(
                    F.struct(
                        F.col("_obs_us").alias("_f_us"),
                        F.col("_obs_seq").alias("_f_seq"),
                    )
                ).alias("_frontier")
            )
            existing = existing.drop("_obs_us", "_obs_seq")
        else:
            old_frontier = existing.groupBy(key_col).agg(
                F.max(
                    F.struct(
                        F.col("_ts_us").alias("_f_us"),
                        F.col("_seq").alias("_f_seq"),
                    )
                ).alias("_frontier")
            )
        gated = inc.join(F.broadcast(old_frontier), key_col, "left")
        obs = F.struct(
            F.col("_ts_us").alias("_f_us"), F.col("_seq").alias("_f_seq")
        )
        late = gated.filter(obs < F.col("_frontier"))
        n_late = late.count()
        inc = gated.filter(
            F.col("_frontier").isNull() | (obs >= F.col("_frontier"))
        ).drop("_frontier")
        merged = existing.unionByName(inc)
    else:
        merged = inc

    # re-collapse to the change log: first row per key, then every
    # NULL-safe attr change (state rows re-qualify identically, so a
    # replayed batch converges — idempotent like the LWW merge)
    w = Window.partitionBy(key_col).orderBy(F.asc("_ts_us"), F.asc("_seq"))
    changes = (
        merged.withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            | ~F.col(attr_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_rn")
    )
    # advance the observed frontier: max over everything merged this
    # round, lifted by the previous frontier (which may exceed the
    # change-log max when same-attr observations collapsed away)
    batch_max = merged.groupBy(key_col).agg(
        F.max(
            F.struct(F.col("_ts_us").alias("_f_us"), F.col("_seq").alias("_f_seq"))
        ).alias("_bmax")
    )
    if old_frontier is not None:
        frontier_new = (
            batch_max.join(old_frontier, key_col, "left")
            .select(
                F.col(key_col),
                F.greatest(F.col("_bmax"), F.col("_frontier")).alias("_bmax"),
            )
        )
    else:
        frontier_new = batch_max
    changes = changes.join(frontier_new, key_col, "left").select(
        *[c for c in changes.columns],
        F.col("_bmax._f_us").alias("_obs_us"),
        F.col("_bmax._f_seq").alias("_obs_seq"),
    )
    changes = changes.localCheckpoint(eager=True)
    (
        changes.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    _write_meta(
        spark,
        path,
        {
            "num_buckets": num_buckets,
            "key": key_col,
            "seq_col": tiebreak_col,
            "schema": changes.schema.json(),
        },
    )
    return n_late


def read_scd2_history(
    spark: SparkSession, path: str, key_col: str, attr_col: str
) -> DataFrame:
    """The queryable history: change-log state + one lead() window →
    (key, attr, valid_from_us, valid_to_us, version), the exact
    output schema of operators/scd.scd2_history."""
    state = _state_df(spark, path, _read_meta(spark, path))
    w = Window.partitionBy(key_col).orderBy(F.asc("_ts_us"), F.asc("_seq"))
    return state.select(
        F.col(key_col),
        F.col(attr_col),
        F.col("_ts_us").alias("valid_from_us"),
        F.lead("_ts_us").over(w).alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version"),
    )


def run_scd2_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    num_buckets: int = 32,
) -> None:
    """Drive the maintainer over a stream via foreachBatch
    (availableNow). Checkpointing makes batch replay safe: a replayed
    batch re-collapses to the identical change log (idempotent)."""

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        merge_scd2_batch(
            spark, batch, state_path, key_col, attr_col, ts_col,
            tiebreak_col, num_buckets,
        )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
