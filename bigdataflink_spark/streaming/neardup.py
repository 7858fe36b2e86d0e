"""Online near-duplicate dedup over a document stream.

The batch MinHash→LSH→verify pipeline (operators/dedup.py) answers
"which docs in this corpus are near-dups"; a training-data INGEST
pipeline needs the online form: as documents arrive, drop any that
near-duplicate an ALREADY-ACCEPTED document, append the survivors.
First arrival wins — the same arrival-order greedy semantics as
``operators.dedup.greedy_leader_filter`` (a rejected doc never blocks
later docs), so `stream over K micro-batches ≡ batch greedy filter`
exactly, regardless of how the stream is sliced. That equivalence is
the test contract (tests/test_streaming_neardup.py).

State lives in two parquet directories, both append-only:

* ``<state>/bands``  — (band, sig, doc_id) LSH bucket rows of every
  accepted doc: the candidate-lookup index. Append-only parquet is
  the right store because lookups are an equi-join on (band, sig) —
  at scale, partition by ``band`` and bucket by ``sig`` and the join
  is shuffle-free on the state side.
* ``<state>/docs``   — (doc_id, text) of accepted docs: the exact-
  verify side. Only candidate ids are ever joined against it.

Per micro-batch work is: signatures for the BATCH only (state is
never re-hashed), one join batch-bands × state-bands, exact Jaccard
on the candidates only, then the within-batch greedy filter — the
same O(batch · shingles) profile as the batch pipeline, independent
of accumulated state size except for the band-index join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators import dedup
from bigdataflink_spark.streaming.statestore import read_state, start_foreach_batch


def _band_rows(
    docs: DataFrame, id_col: str, text_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(band, sig, id) LSH bucket rows for ``docs``."""
    sigs = dedup.minhash_signatures(docs, id_col, text_col, num_hashes)
    rows_per_band = num_hashes // bands
    band_cols = [
        F.concat_ws(
            ",", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.posexplode(F.array(*band_cols)).alias("band", "sig")
    )


def accept_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """One online-dedup step: returns the accepted subset of ``batch``
    and appends its state rows. Usable directly for batch backfills;
    ``run_neardup_stream`` wraps it in foreachBatch."""
    bands_dir = os.path.join(state_dir, "bands")
    docs_dir = os.path.join(state_dir, "docs")

    batch = batch.localCheckpoint(eager=True)  # pin: state append must not recompute
    batch_bands = _band_rows(batch, id_col, text_col, num_hashes, bands)

    # path-missing (first batch) is the ONLY silent case; read errors
    # on existing state propagate — a silent reset re-admits dups (r9)
    state_bands = read_state(spark, bands_dir)
    state_docs = read_state(spark, docs_dir)
    have_state = state_bands is not None and state_docs is not None

    survivors = batch
    if have_state:
        # candidates vs ACCEPTED docs only, exact-verified
        cand = (
            batch_bands.alias("n")
            .join(
                state_bands.alias("s"),
                (F.col("n.band") == F.col("s.band")) & (F.col("n.sig") == F.col("s.sig")),
            )
            .select(
                F.col(f"s.{id_col}").alias("id_a"), F.col(f"n.{id_col}").alias("id_b")
            )
            .distinct()
        )
        # semi-join prune BEFORE shingling: exact-verify only ever
        # reads candidate docs, so accumulated state is never re-hashed
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        both = (
            state_docs.select(id_col, text_col)
            .unionByName(batch.select(id_col, text_col))
            .join(cand_ids, id_col, "left_semi")
        )
        dup_ids = (
            dedup.jaccard_verify(cand, both, id_col, text_col, threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        survivors = batch.join(dup_ids, id_col, "left_anti")

    # within-batch greedy (first arrival = smallest id wins)
    pairs = dedup.minhash_dedup_pairs(
        survivors, id_col, text_col, num_hashes, bands, threshold,
        max_bucket=4096,
    )
    accepted = (
        dedup.greedy_leader_filter(survivors, pairs, id_col)
        .filter(F.col("keep"))
        .drop("keep")
        .localCheckpoint(eager=True)
    )

    _band_rows(accepted, id_col, text_col, num_hashes, bands).write.mode(
        "append"
    ).parquet(bands_dir)
    accepted.select(id_col, text_col).write.mode("append").parquet(docs_dir)
    return accepted


def run_neardup_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> None:
    """Drain ``stream`` (availableNow) through the online dedup;
    accepted docs land in ``out_dir`` as parquet.

    Exactly-once caveat: the state appends in ``accept_batch`` are not
    transactional with the checkpoint — a crash between them can
    re-accept a batch on restart. The production hardening is an
    idempotent state store (batch-id column + MERGE, as in
    streaming/merge.py); kept plain here to keep the dedup logic
    legible.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        accepted = accept_batch(
            spark,
            batch_df,
            state_dir,
            id_col,
            text_col,
            num_hashes,
            bands,
            threshold,
        )
        accepted.write.mode("append").parquet(out_dir)

    start_foreach_batch(stream, checkpoint_dir, _process).awaitTermination()
