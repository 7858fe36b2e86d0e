"""Bucketed MERGE-on-key state store (plain-parquet approximation of
Delta/Iceberg ``MERGE INTO``).

A naive state sink rewrites the WHOLE state table per micro-batch
(the pipeline's original design) — correct, but O(state) write
amplification: at 100 TB a 1k-row batch would rewrite the full fact
table. This module keeps the same last-write-wins semantics
(reference: ``ON CONFLICT … DO UPDATE``, flink/stream_to_star.py:
116-121) with O(dirty buckets) amplification instead — it IS the
pipeline's state sink (streaming/pipeline.py::upsert_star_batch):

* state lives partitioned by ``_bucket = pmod(hash(key), N)``;
* a micro-batch only touches the buckets its keys hash into —
  existing rows of those buckets are read (partition-pruned scan),
  unioned with the batch, LWW-reduced, and written back via DYNAMIC
  partition overwrite, which replaces only the dirty partitions;
* clean buckets are never read, never rewritten — their files are
  bit-identical afterwards (asserted in tests via mtime).

Idempotency is unchanged: per-key ``arrival_seq`` travels in state, so
a replayed batch converges to the same winners (SURVEY.md §2.9 T3).

Thread safety: merges into DISJOINT state dirs may run concurrently
from several threads of one session (the pipeline merges its seven
star tables at once). Nothing here touches session-global conf: the
dynamic overwrite is the per-write ``partitionOverwriteMode`` option,
so one thread can never restore ``static`` under another's write (a
static overwrite with ``partitionBy`` deletes every clean bucket).
State is read with the schema pinned in its metadata — no
schema-inference job per merge.

Scaling N: buckets play the role of Delta's file-level pruning; pick
N ~ state_size / target_file_size. A real lakehouse MERGE only
improves constants (file-level instead of bucket-level pruning).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.dedup import lww_dedup

BUCKET_COL = "_bucket"
# Underscore prefix → ignored by Spark's parquet FileIndex, so the
# metadata file can live inside the state directory itself.
_META_FILE = "_bdf_state_meta.json"


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for ``path`` — works on any supported
    scheme (file://, hdfs://, s3a://…), unlike driver-local os.path."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _read_meta(spark: SparkSession, path: str) -> dict | None:
    fs, _ = _fs_and_path(spark, path)
    mpath = spark._jvm.org.apache.hadoop.fs.Path(path, _META_FILE)
    if not fs.exists(mpath):
        return None
    stream = fs.open(mpath)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw)


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    fs, _ = _fs_and_path(spark, path)
    mpath = spark._jvm.org.apache.hadoop.fs.Path(path, _META_FILE)
    stream = fs.create(mpath, True)
    try:
        stream.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        stream.close()


def merge_lww_bucketed(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    key: str,
    seq_col: str = "arrival_seq",
    num_buckets: int = 32,
) -> None:
    """Upsert ``incoming`` into the bucketed LWW state at ``path``.

    ``incoming`` may hold several rows per key: one LWW pass over
    existing ∪ incoming picks the same winners as deduplicating the
    batch first. Only the buckets containing incoming keys are read
    and rewritten.
    State existence is probed through the Hadoop FileSystem API (a
    driver-local os.path check is always false on HDFS/S3 → would
    silently drop prior state). The bucket count is pinned in
    ``_bdf_state_meta.json`` inside the state dir: merging with a
    different ``num_buckets`` would leave stale winners in old
    buckets, so a mismatch fails fast instead of corrupting state.
    """
    inc = incoming.withColumn(BUCKET_COL, F.pmod(F.hash(F.col(key)), F.lit(num_buckets)))
    fs, hpath = _fs_and_path(spark, path)
    if fs.exists(hpath):
        meta = _read_meta(spark, path)
        if meta is not None and meta.get("num_buckets") != num_buckets:
            raise ValueError(
                f"state at {path} was bucketed with num_buckets="
                f"{meta.get('num_buckets')}; merging with {num_buckets} "
                "would corrupt it (same key lands in a different bucket). "
                "Rebuild the state to rebucket."
            )
        dirty = [r[0] for r in inc.select(BUCKET_COL).distinct().collect()]
        existing = _state_df(spark, path, meta).filter(F.col(BUCKET_COL).isin(dirty))
        merged = existing.unionByName(inc)
    else:
        merged = inc
    winners = lww_dedup(merged, [key], seq_col)
    # cut lineage to the files being overwritten (read-then-overwrite
    # of the same path is otherwise undefined)
    winners = winners.localCheckpoint(eager=True)
    (
        winners.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    _write_meta(
        spark,
        path,
        {
            "num_buckets": num_buckets,
            "key": key,
            "seq_col": seq_col,
            # pins the read schema: no inference job per read, and an
            # all-empty state (a dim no record has fed yet: zero
            # partition dirs on disk) still reads back with its schema
            "schema": winners.schema.json(),
        },
    )


def _state_df(spark: SparkSession, path: str, meta: dict | None) -> DataFrame:
    """State as a DataFrame. With the schema pinned in ``meta`` the read
    is explicit: no schema-inference job, and a state with no data
    files yet reads back empty with its schema. State without metadata
    falls back to an inferred read."""
    from pyspark.sql.types import StructType

    if meta is not None and "schema" in meta:
        schema = StructType.fromJson(json.loads(meta["schema"]))
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """Current state without the bucketing column."""
    return _state_df(spark, path, _read_meta(spark, path)).drop(BUCKET_COL)
