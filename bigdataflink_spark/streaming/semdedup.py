"""Online SemDeDup — the streaming twin of
``operators.similarity.semantic_dedup`` (round-5 verdict: MinHash
near-dup had a parity-tested streaming twin, semantic dedup didn't).

Batch semantics being mirrored: a vector is DROPPED iff some
smaller-id vector in the SAME cell has cosine >= threshold with it —
and the dropping vector need NOT itself be a survivor (the published
SemDeDup prune-within-cluster rule, q185's EXISTS oracle). The online
form therefore differs from streaming/neardup.py in one load-bearing
way: state keeps EVERY seen vector, accepted or dropped, because a
dropped vector still drops later arrivals. With id-ordered slicing
(the same arrival-order contract the near-dup twin tests), stream
over K micro-batches ≡ batch ``semantic_dedup`` EXACTLY, for any cut
points — that equivalence is the test contract
(tests/test_streaming_semdedup.py).

State is one append-only parquet directory per concern:

* ``<state>/vecs``  — (id, cell, vec, nrm) of every seen vector: the
  candidate + exact-verify side. Lookups are an equi-join on the
  CELL, so at scale partition this directory by cell and the join
  never shuffles the state side; the quadratic term stays bounded by
  cell size exactly as in the batch operator.
* ``<state>/bands`` — (cell, band, bsig, id) sign-LSH rows, written
  only when ``rows_per_band`` is set: the scale tier for corpora
  whose cells outgrow exact pairing. The batch operator derives its
  band width from the observed max cell size; a stream cannot
  re-derive (widths must match across batches for bucket joins), so
  the width is an EXPLICIT parameter here — pick
  ~ceil(log2(expected corpus / cells)) and the candidate count stays
  ∝ batch·bands (the documented sign-LSH law). The exact tier
  (default) is the parity-tested path.

Per micro-batch work: candidates for the BATCH only (state vectors
are never re-scored against each other), one cell-keyed join, exact
cosine on candidates, one state append — the same profile as the
batch operator restricted to the new rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.similarity import dot, norm
from bigdataflink_spark.streaming.statestore import read_state, start_foreach_batch


def _sided(df: DataFrame, id_col: str, vec_col: str, cell_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )


def _band_rows(sided: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    bits = F.transform(
        F.slice(F.col("vec"), 1, bands * rows_per_band),
        lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return sided.select(
        "id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "", F.slice(bits, b * rows_per_band + 1, rows_per_band)
                        ).alias("bsig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("cell", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig"), "id")


def accept_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    bands: int = 4,
    rows_per_band: int | None = None,
) -> DataFrame:
    """One online-SemDeDup step: returns the batch annotated with the
    batch operator's verdict columns (id, cell, dropped) and appends
    ALL batch vectors to state (dropped ones still drop later
    arrivals — see module doc). Usable directly for backfills;
    ``run_semdedup_stream`` wraps it in foreachBatch."""
    vecs_dir = os.path.join(state_dir, "vecs")
    bands_dir = os.path.join(state_dir, "bands")

    # ONE batch pin (round 13): b_sided is the only consumer of the
    # raw batch and every downstream leg reads b_sided, so the extra
    # eager checkpoint of the raw batch was a redundant job per
    # trigger. The b_sided checkpoint still pins the batch content
    # before the state appends below.
    b_sided = _sided(batch, id_col, vec_col, cell_col).localCheckpoint(eager=True)

    # path-missing (first batch) is the ONLY silent case; read errors
    # on existing state propagate — a silent reset re-admits dups (r9)
    state_vecs = read_state(spark, vecs_dir)
    have_state = state_vecs is not None

    if rows_per_band is None:
        # exact tier: every earlier same-cell vector is a candidate
        earlier = (
            state_vecs.select("id", "cell").unionByName(b_sided.select("id", "cell"))
            if have_state
            else b_sided.select("id", "cell")
        )
        cand = (
            earlier.alias("a")
            .join(
                b_sided.select("id", "cell").alias("b"),
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        )
    else:
        b_bands = _band_rows(b_sided, bands, rows_per_band)
        earlier_bands = b_bands
        if have_state:
            # pinned read (round 13): the band state was read by
            # directory path, so it relied on the verdict being
            # eagerly checkpointed before this trigger's band append;
            # the call-time file-list pin makes the verdict safe to
            # evaluate lazily (the checkpoint job below is gone)
            state_bands = read_state(spark, bands_dir)
            if state_bands is None:
                raise ValueError(
                    f"semdedup state inconsistent: {vecs_dir} exists "
                    f"but {bands_dir} is missing"
                )
            earlier_bands = state_bands.unionByName(b_bands)
        cand = (
            earlier_bands.alias("a")
            .join(
                b_bands.alias("b"),
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bsig") == F.col("b.bsig"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
            .distinct()
        )

    a_side = (
        state_vecs.unionByName(b_sided) if have_state else b_sided
    ).select(
        F.col("id").alias("a_id"),
        F.col("vec").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b_side = b_sided.select(
        F.col("id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    dropped_ids = (
        cand.join(a_side, "a_id")
        .join(b_side, "b_id")
        .withColumn(
            "cos",
            F.round(
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_nrm") * F.col("b_nrm")),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("b_id")
        .distinct()
    )

    verdict = (
        b_sided.select("id", "cell")
        .join(
            dropped_ids.withColumn("dropped", F.lit(True)),
            b_sided["id"] == dropped_ids["b_id"],
            "left",
        )
        .select(
            "id", "cell", F.coalesce(F.col("dropped"), F.lit(False)).alias("dropped")
        )
    )
    # No eager verdict materialization (round 13): every state read
    # above is pinned to its call-time file list (read_state), so the
    # appends below cannot leak into the verdict plan even when the
    # caller evaluates it lazily — the per-trigger checkpoint job that
    # used to force the whole candidate+cosine pass is gone (it now
    # runs once, inside the caller's action).

    b_sided.write.mode("append").parquet(vecs_dir)
    if rows_per_band is not None:
        _band_rows(b_sided, bands, rows_per_band).write.mode("append").parquet(
            bands_dir
        )
    return verdict


def run_semdedup_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    bands: int = 4,
    rows_per_band: int | None = None,
) -> None:
    """Drain ``stream`` (availableNow) through online SemDeDup;
    per-vector verdict rows (id, cell, dropped) land in ``out_dir``
    as parquet.

    Exactly-once caveat (same as run_neardup_stream): the state
    appends are not transactional with the checkpoint — a crash
    between them can re-process a batch on restart. The production
    hardening is an idempotent state store (batch-id column + MERGE,
    as in streaming/merge.py); kept plain here to keep the dedup
    logic legible.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        verdict = accept_batch(
            spark,
            batch_df,
            state_dir,
            threshold,
            id_col,
            vec_col,
            cell_col,
            bands,
            rows_per_band,
        )
        verdict.write.mode("append").parquet(out_dir)

    start_foreach_batch(stream, checkpoint_dir, _process).awaitTermination()
