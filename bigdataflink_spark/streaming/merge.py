"""Bucketed MERGE-on-key state store (plain-parquet approximation of
Delta/Iceberg ``MERGE INTO``) — the one store behind every upsert
target of the streaming layer.

A naive state sink rewrites the WHOLE state table per micro-batch
(the pipeline's original design) — correct, but O(state) write
amplification: at 100 TB a 1k-row batch would rewrite the full fact
table. This module keeps the reference's upsert semantics (``ON
CONFLICT … DO UPDATE``, flink/stream_to_star.py:116-121) with
O(dirty buckets) amplification instead:

* state lives partitioned by ``_bucket = pmod(hash(key), N)``;
* a micro-batch only touches the buckets its keys hash into —
  existing rows of those buckets are read (partition-pruned scan),
  folded with the batch, and written back via DYNAMIC partition
  overwrite, which replaces only the dirty partitions;
* clean buckets are never read, never rewritten — their files are
  bit-identical afterwards (asserted in tests via mtime).

The fold's output is written straight back to the path it read, in
the same job. That is safe because a dynamic overwrite writes under
``.spark-staging-*`` and swaps the dirty bucket dirs in only at job
commit, after every task has read them; a write task that fails
aborts the job before the commit and leaves the state as it was.
A one-bucket LWW merge is then a single task with no shuffle.

:func:`merge_bucketed` owns that layout; only the fold differs per
store (Structured Streaming's view of state as an idempotent fold of
each batch). It serves two stores:

* the star's last-write-wins state (:func:`merge_lww_bucketed`, the
  sink of streaming/pipeline.py::upsert_star_batch): one row per key,
  and per-key ``arrival_seq`` travels in state, so a replayed batch
  converges to the same winners (SURVEY.md §2.9 T3);
* the SCD2 change log (streaming/scd2.py::merge_scd2_batch): several
  rows per key, re-collapsed per batch behind a drop-late gate.

Thread safety: merges into DISJOINT state dirs may run concurrently
from several threads of one session (the pipeline merges its seven
star tables at once). Nothing here touches session-global conf: the
dynamic overwrite is the per-write ``partitionOverwriteMode`` option,
so one thread can never restore ``static`` under another's write (a
static overwrite with ``partitionBy`` deletes every clean bucket).
State is read with the schema pinned in its metadata — no
schema-inference job per merge. The metadata is published once, when a
directory's first rows are written, by a temp + rename
(``formats.publish_json``), and never rewritten: a crash inside the
publish leaves only the ignored temp, never a torn metadata file.

Scaling N: buckets play the role of Delta's file-level pruning, and
each state derives its own N from its bytes (:func:`fit_state_buckets`).
A new state starts with one bucket; once its bytes exceed N × the
session's scan split size (``spark.sql.files.maxPartitionBytes``,
128 MB by default) it is rebucketed to the smallest power of two that
fits. Below one split, extra buckets prune nothing worth having: the
whole state is one scan split, and each bucket only adds a file, a
partition commit and scan overhead to every merge. The rebucket is a
re-hash of every row into a staged sibling that carries its own
metadata, swapped in by ``sources/formats.swap_in_staged``, the
two-rename swap ``compact_dir`` also uses; every state probe here runs
``recover_compact_crash`` first, so a crash at any point leaves either
the old or the new state. A real lakehouse MERGE only improves constants
(file-level instead of bucket-level pruning).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from bigdataflink_spark.operators.dedup import lww_dedup
from bigdataflink_spark.sources.formats import (
    hadoop_fs,
    publish_json,
    read_json,
    recover_compact_crash,
    staged_dir,
    swap_in_staged,
)

BUCKET_COL = "_bucket"
# Underscore prefix → ignored by Spark's parquet FileIndex, so the
# metadata file can live inside the state directory itself.
_META_FILE = "_bdf_state_meta.json"


def _read_meta(spark: SparkSession, path: str) -> dict | None:
    fs, _, jvm = hadoop_fs(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(path, _META_FILE)
    if not fs.exists(mpath):
        return None
    return read_json(fs, mpath)


def _publish_meta(
    spark: SparkSession, path: str, key: str, num_buckets: int, schema: StructType
) -> None:
    """Pin the layout of the state at ``path``, which has no metadata
    yet: its first merge, or the staged dir of a rebucket, which
    ``recover_compact_crash`` has just cleared. A first merge that died
    before this publish left rows without metadata; the next merge reads
    them by inference and publishes here."""
    fs, _, jvm = hadoop_fs(spark, path)
    final = f"{path.rstrip('/')}/{_META_FILE}"
    publish_json(
        fs,
        jvm,
        final + ".tmp",  # underscore-led like the final name: not data
        final,
        {
            "num_buckets": num_buckets,
            "key": key,
            # pins the read schema: no inference job per read, and an
            # all-empty state (a dim no record has fed yet: zero
            # partition dirs on disk) still reads back with its schema
            "schema": _nullable(schema).json(),
        },
    )


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable: the form a
    parquet read gives back whatever was written, so the first merge's
    rows (often non-null) pin the same schema later merges see."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def fit_state_buckets(spark: SparkSession, path: str) -> int:
    """Bucket count for the next merge into the state at ``path``.

    1 for a new state, and for a state without metadata (its first
    merge died before the metadata write, so it holds one bucket). An
    existing state keeps its pinned N while its bytes fit in N scan
    splits; past that it is rebucketed here, before the merge, to the
    smallest power of two that fits, and the new N is returned. N never
    shrinks. The rebucket re-hashes every row as it is: LWW state
    already holds one row per key, and a change log's several rows per
    key must all survive.
    """
    recover_compact_crash(spark, path)
    meta = _read_meta(spark, path)
    if meta is None:
        return 1
    fs, hpath, _ = hadoop_fs(spark, path)
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = fs.getContentSummary(hpath).getLength()
    need = 1
    while need * split < size:
        need *= 2
    if need <= meta["num_buckets"]:
        return meta["num_buckets"]
    # full re-hash into the staged sibling (one file per bucket), then
    # the two-rename swap
    key = meta["key"]
    state = _bucketed(_state_df(spark, path, meta).drop(BUCKET_COL), key, need)
    staged = staged_dir(path)
    _write_state(state.repartition(BUCKET_COL), staged)
    _publish_meta(spark, staged, key, need, state.schema)
    swap_in_staged(spark, path)
    return need


def merge_bucketed(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    key: str,
    num_buckets: int,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> None:
    """Fold ``incoming`` into the bucketed state at ``path``.

    ``fold(existing, incoming)`` returns the new rows of the dirty
    buckets: ``existing`` holds their current rows (None for a new
    state) and ``incoming`` the batch, both with the bucket column. Only
    the buckets containing incoming keys are read and rewritten; a
    one-bucket state's only bucket is the dirty one, so it runs no
    dirty-bucket job.
    State existence is probed through the Hadoop FileSystem API (a
    driver-local os.path check is always false on HDFS/S3 → would
    silently drop prior state). The bucket count is pinned in
    ``_bdf_state_meta.json`` inside the state dir, published by the
    first merge and never rewritten: merging with a different
    ``num_buckets`` would leave stale rows in old buckets, so a
    mismatch fails fast instead of corrupting state
    (:func:`fit_state_buckets` changes N by a full rebucket).
    """
    recover_compact_crash(spark, path)
    inc = _bucketed(incoming, key, num_buckets)
    fs, hpath, _ = hadoop_fs(spark, path)
    existing = meta = None
    if fs.exists(hpath):
        meta = _read_meta(spark, path)
        if meta is not None and meta.get("num_buckets") != num_buckets:
            raise ValueError(
                f"state at {path} was bucketed with num_buckets="
                f"{meta.get('num_buckets')}; merging with {num_buckets} "
                "would corrupt it (same key lands in a different bucket). "
                "fit_state_buckets changes N by rebucketing the whole state."
            )
        existing = _state_df(spark, path, meta)
        if num_buckets > 1:
            dirty = [r[0] for r in inc.select(BUCKET_COL).distinct().collect()]
            existing = existing.filter(F.col(BUCKET_COL).isin(dirty))
    rows = fold(existing, inc)
    _write_state(rows, path)
    if meta is None:
        _publish_meta(spark, path, key, num_buckets, rows.schema)


def merge_lww_bucketed(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    key: str,
    seq_col: str = "arrival_seq",
    num_buckets: int = 1,
) -> None:
    """Upsert ``incoming`` into the bucketed LWW state at ``path``
    (:func:`merge_bucketed` with an LWW fold).

    ``incoming`` may hold several rows per key: one LWW pass over
    existing ∪ incoming picks the same winners as deduplicating the
    batch first. ``num_buckets`` defaults to the one bucket
    :func:`fit_state_buckets` gives a new state; a grown state needs
    its pinned N.
    """

    def lww(existing: DataFrame | None, inc: DataFrame) -> DataFrame:
        merged = inc if existing is None else existing.unionByName(inc)
        if num_buckets == 1:
            # one bucket is at most one scan split (fit_state_buckets):
            # one task folds it, and the window needs no Exchange
            merged = merged.coalesce(1)
        return lww_dedup(merged, [key], seq_col)

    merge_bucketed(spark, incoming, path, key, num_buckets, lww)


def _bucketed(df: DataFrame, key: str, num_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.hash(F.col(key)), F.lit(num_buckets)))


def _write_state(rows: DataFrame, path: str) -> None:
    """Overwrite the buckets present in ``rows`` (dynamic partition
    overwrite, set per write)."""
    (
        rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )


def _state_df(spark: SparkSession, path: str, meta: dict | None) -> DataFrame:
    """State as a DataFrame. With the schema pinned in ``meta`` the read
    is explicit: no schema-inference job, and a state with no data
    files yet reads back empty with its schema. State without metadata
    falls back to an inferred read."""
    if meta is not None and "schema" in meta:
        schema = StructType.fromJson(json.loads(meta["schema"]))
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """Current state without the bucketing column."""
    recover_compact_crash(spark, path)
    return _state_df(spark, path, _read_meta(spark, path)).drop(BUCKET_COL)
