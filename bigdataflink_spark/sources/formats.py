"""Generic batch format connectors: parquet / ORC / JSON-lines / CSV,
read and write, plus partitioned-layout writes.

The reference ingests only CSV-over-Kafka (producer/csv_to_kafka.py:17-33)
and terminates in Postgres; a Spark-native engine's equivalent surface
is the DataSource V1/V2 format matrix. These helpers pin the
engine-wide conventions so every entry point round-trips losslessly:

* **Schema is explicit on read** for the text formats (JSON/CSV infer
  types lossily — int-looking strings, timestamp ambiguity). Callers
  pass the expected ``StructType`` (usually from the parquet twin);
  ``schema=None`` falls back to inference for exploratory reads.
* **Timestamps go through UTC** (``timestampFormat`` with explicit
  zone on CSV/JSON) so text round-trips are wall-clock stable under
  any session timezone.
* **Binary and array columns** survive parquet/ORC natively; JSON
  encodes binary as base64 (Spark's contract) and CSV refuses nested
  types — ``csv_safe_projection`` strips them explicitly instead of
  letting the writer throw mid-job.
* **Partitioned writes** use ``partitionBy`` + dynamic partition
  overwrite, the idempotent-backfill layout: re-running a slice
  replaces only the partitions present in the batch, never truncating
  siblings — the 100 TB equivalent of the reference's per-row upsert
  terminal store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

_TEXT_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Read ``path`` in ``fmt`` (parquet|orc|json|csv).

    CSV defaults to header=true; JSON is JSON-lines. Explicit schema
    skips the inference pass (one full extra scan on text formats —
    never acceptable at 100 TB) and pins types.
    """
    reader = spark.read.format(fmt)
    if fmt in ("json", "csv"):
        reader = reader.options(**_TEXT_OPTS)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        reader = reader.option("inferSchema", "true")
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def write_any(df: DataFrame, path: str, fmt: str, mode: str = "overwrite", **options: str) -> None:
    """Write ``df`` to ``path`` in ``fmt`` with engine conventions."""
    writer = df.write.format(fmt).mode(mode)
    if fmt in ("json", "csv"):
        writer = writer.options(**_TEXT_OPTS)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if options:
        writer = writer.options(**options)
    writer.save(path)


def csv_safe_projection(df: DataFrame) -> DataFrame:
    """Project away columns CSV cannot carry (arrays/maps/structs),
    keeping scalars — explicit and loggable, instead of the writer's
    mid-job AnalysisException."""
    keep = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    return df.select(*keep)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    dynamic: bool = True,
) -> None:
    """Partitioned-layout write with dynamic partition overwrite.

    ``dynamic=True`` sets the writer's ``partitionOverwriteMode``
    option for THIS write only (the session conf is never touched, so
    concurrent writers cannot clobber each other): overwrite replaces
    exactly the partitions present in ``df`` — the idempotent backfill
    primitive. ``dynamic=False`` is the classic truncate-and-load.

    Partition columns become directory keys (``col=value/``), so scans
    filtered on them prune at the FILE LISTING level — zero IO for
    excluded partitions, the cheapest predicate pushdown there is.
    Choose low-cardinality keys (date, lang, source); a high-card key
    explodes small files (the 100 TB killer is listing 10M dirs, not
    reading them).
    """
    (
        df.write.partitionBy(*partition_cols)
        .format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .save(path)
    )


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a partitioned layout back; partition dirs surface as
    columns and equality filters on them prune at listing time."""
    return spark.read.format(fmt).load(path)


def write_sharded(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_rows_per_file: int,
    fmt: str = "parquet",
) -> None:
    """Range-sharded write: globally range-partition on ``sort_cols``
    into ceil(n/target) shards, sort within each, and cap every file
    at ``target_rows_per_file`` rows.

    This is the training-shard / compaction sink: output files are
    (a) uniformly sized — ``maxRecordsPerFile`` splits any shard the
    range sampler misestimated, so one hot key can't produce a 10 GB
    straggler file; (b) globally ordered on the sort key, so parquet
    min/max footers make downstream range predicates prune whole
    files. ``repartitionByRange`` samples the key distribution
    (reservoir per partition — one extra lightweight pass) instead of
    hashing, which is what keeps shard sizes even under skew at 100 TB.
    """
    n = df.count()
    shards = max(1, -(-n // target_rows_per_file))
    (
        df.repartitionByRange(shards, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.format(fmt)
        .option("maxRecordsPerFile", str(target_rows_per_file))
        .mode("overwrite")
        .save(path)
    )


def recover_compact_crash(spark: SparkSession, path: str) -> "str | None":
    """Repair the crash window of :func:`compact_dir`'s two-rename
    swap (ADVICE r12): a crash BETWEEN ``rename(path, path.compact_old)``
    and ``rename(path.compact_tmp, path)`` leaves NO directory at the
    state path — a naive "missing dir means empty state" reader would
    silently bootstrap empty and re-admit everything ever seen. The
    three reachable crash states, all repaired idempotently here:

    * ``.compact_old`` exists, ``path`` missing → crash between the
      renames: restore the old layout via one atomic rename (state
      content is identical pre/post compaction, so restoring OLD is
      always correct) and drop the staged ``.compact_tmp``;
    * ``.compact_old`` AND ``path`` both exist → crash after the
      swap-in but before cleanup: the new layout is live, delete the
      stale ``.compact_old``;
    * ``.compact_tmp`` exists, ``path`` intact → crash during the
      staged rewrite: the tmp dir is garbage, delete it.

    Called at the top of every :func:`compact_dir` run and by
    ``streaming.statestore.read_state`` before it treats a missing
    path as "first batch". Returns a short tag of the repair applied
    (``"restored"`` / ``"dropped_old"`` / ``"dropped_tmp"``) or
    ``None`` when nothing needed repair."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact_old")
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact_tmp")
    if fs.exists(old):
        if fs.exists(hpath):
            fs.delete(old, True)
            return "dropped_old"
        if not fs.rename(old, hpath):
            raise IOError(
                f"recover_compact_crash: {path} is missing and the "
                f"dangling {old} from a crashed compaction could not "
                "be restored — refusing to proceed (treating this as "
                "empty state would silently reset the operator)"
            )
        if fs.exists(tmp):
            fs.delete(tmp, True)
        return "restored"
    if fs.exists(tmp) and fs.exists(hpath):
        fs.delete(tmp, True)
        return "dropped_tmp"
    return None


def compact_dir(
    spark: SparkSession,
    path: str,
    sort_cols: list[str],
    target_rows_per_file: int,
    fmt: str = "parquet",
) -> tuple[int, int]:
    """Small-file compaction (the lakehouse OPTIMIZE maintenance op):
    rewrite a directory's accumulated files into range-sharded,
    size-capped, sorted files via write_sharded. Returns (files
    before, files after).

    Streaming sinks and per-batch writers accrete small files; at
    100 TB the cost is the FILE LISTING and per-task open overhead,
    not the bytes. Compaction is a full rewrite of the directory —
    run it per partition directory on partitioned layouts so each
    maintenance job stays bounded. The rewrite goes through a temp
    dir + rename swap; a crash leaves either the old or the new
    layout (possibly parked at a ``.compact_old`` sibling during the
    two-rename window), never a mix — :func:`recover_compact_crash`
    runs first here and in ``read_state`` to repair every reachable
    crash state before anyone could mistake parked state for empty. All filesystem ops go through the Hadoop
    FileSystem API (NOT driver-local os/shutil), so the helper works
    unchanged on file://, hdfs://, and s3a:// paths — the same
    contract as streaming/merge.py's state probes.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    recover_compact_crash(spark, path)

    def _count(p) -> int:
        return sum(
            1
            for st in fs.listStatus(p)
            if st.getPath().getName().startswith("part-")
        )

    before = _count(hpath)
    df = spark.read.format(fmt).load(path)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact_tmp")
    write_sharded(df, tmp.toString(), sort_cols, target_rows_per_file, fmt=fmt)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact_old")
    if not fs.rename(hpath, old):
        raise IOError(f"compact_dir: could not stage {path} aside")
    if not fs.rename(tmp, hpath):
        fs.rename(old, hpath)  # roll back
        raise IOError(f"compact_dir: could not swap in compacted {path}")
    fs.delete(old, True)
    return before, _count(hpath)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Raw-asset ingest via Spark's ``binaryFile`` source — the
    multimodal on-ramp (images/audio/video land as one row per file:
    path, modificationTime, length, content BINARY).

    This is the 100 TB-sane way to get opaque media into the
    engine: the scan is distributed, columnar-metadata-only until
    ``content`` is actually referenced (column pruning drops the
    bytes for pure-inventory queries), and ``pathGlobFilter`` prunes
    at the LISTING, before any read. Pair with
    operators/multimodal.py: ``content`` is exactly the ``data``
    column its decode/resize/frame-sample mapInPandas stages expect.

    Spark caps per-file size at ``spark.sql.sources.binaryFile
    .maxLength`` (int max, ~2 GB) — shard bigger assets upstream.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
