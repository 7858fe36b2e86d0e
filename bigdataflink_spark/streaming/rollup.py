"""Continuous (hypertable-style) rollup: an incrementally-maintained
time-bucket aggregate over a stream.

TimescaleDB calls this a continuous aggregate; here it is a
``foreachBatch`` that writes each micro-batch's PARTIAL aggregate to
``parts/batch_id=N`` — overwriting its own directory, so a replayed
batch is idempotent by construction (the additive-merge pitfall of
double-counting on retry can't happen). The queryable rollup is the
final-merge aggregation over the parts, exactly Spark's own
partial/final hash-agg split lifted to persistent storage:

    stream micro-batch ──groupBy(bucket)──► parts/batch_id=N
    read_rollup()      ──groupBy(bucket)──► final totals

At 100 TB the parts stay small (one row per bucket×type per batch)
and compaction is a periodic rewrite of old parts into one — the
rollup never rescans raw events.

Compaction is CRASH-ATOMIC and safe to run beside a live stream
(single compactor, any number of stream triggers):

* the merged partial lands in a fresh ``compacted/gen=G`` directory
  first; the rollup state is untouched until a tiny commit record
  (``_compactions/gen-G.json``, written to a temp name and renamed —
  one atomic FS operation) declares generation G live, recording the
  highest batch id it absorbed (``superseded_max_batch``);
* readers resolve the newest committed generation and scan
  ``compacted/gen=G`` plus only the batch dirs with id >
  ``superseded_max_batch`` — so at every instant they see either the
  old complete state or the new complete state, never half of one;
* stale batch dirs / older generations are deleted only AFTER the
  commit record lands, and only once a LATER generation has also
  superseded them (one-cycle grace — see ``_cleanup_superseded``:
  a reader that eagerly resolved the gen=G view keeps every path it
  planned until the compaction AFTER G+1 runs, so lazy Spark actions
  never hit FileNotFound under a single concurrent compaction); a
  crash anywhere leaves either an orphaned uncommitted gen dir
  (invisible, overwritten by the next attempt) or already-superseded
  dirs pending cleanup (invisible to readers, removed later).

Concurrency contract with a live stream: micro-batch epoch ids are
monotonically increasing under one checkpoint, so a running stream
only creates batch dirs ABOVE every committed ``superseded_max_batch``
— except a post-restart REPLAY of an already-compacted epoch, which
rewrites its own (now ignored) ``batch_id=K`` dir with identical
content: harmless by the same idempotence that makes replays safe
pre-compaction. Both the reader and the compactor only consider batch
dirs whose parquet commit marker (``_SUCCESS``) is present, so an
in-flight trigger's half-written directory is never merged or
double-counted.

Partial sums accumulate in DECIMAL and are only rounded by the final
reader, so the incremental result is bit-identical to a one-shot
batch aggregation over the same events (verified in tests against
operators/windows.tumbling).

REQUIREMENT: parquet job commit markers must stay enabled
(``mapreduce.fileoutputcommitter.marksuccessfuljobs=true`` — Spark's
default): the reader and the compactor use ``_SUCCESS`` to tell a
complete batch dir from one a trigger is mid-writing. Disabling the
marker (sometimes suggested for object stores) would make the rollup
state invisible to this module; on S3A prefer keeping the marker and
using the magic committer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.sources.formats import hadoop_fs, publish_json, read_json
from bigdataflink_spark.streaming.statestore import start_foreach_batch

COMMIT_DIR = "_compactions"


def rollup_batch(
    batch: DataFrame,
    batch_id: int,
    parts_dir: str,
    duration: str = "10 minutes",
) -> None:
    """foreachBatch body: write this batch's partial bucket aggregate."""
    part = (
        batch.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # pinned to decimal(38,2): every state dir (batch partial or
            # compacted generation) must carry the IDENTICAL parquet
            # type — Spark's sum() widens precision by 10 per fold, and
            # mixed decimal widths across dirs fail the parquet reader
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("sum_value_dec"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value_dec",
        )
    )
    part.write.mode("overwrite").parquet(f"{parts_dir}/batch_id={batch_id}")


def _live_state(spark: SparkSession, parts_dir: str):
    """(gen_path_or_None, committed_gen, superseded_max_batch,
    live_batch_dirs) — the committed view of the rollup state.

    Listing is through the Hadoop FS API (works on HDFS/S3A the same
    as local); only _SUCCESS-complete batch dirs count, so a trigger
    writing concurrently is never half-read.
    """
    fs, root, jvm = hadoop_fs(spark, parts_dir)
    gen, max_batch = -1, -1
    commit_root = jvm.org.apache.hadoop.fs.Path(f"{parts_dir}/{COMMIT_DIR}")
    if fs.exists(commit_root):
        for st in fs.listStatus(commit_root):
            name = st.getPath().getName()
            if not (name.startswith("gen-") and name.endswith(".json")):
                continue
            rec = read_json(fs, st.getPath())
            if rec["gen"] > gen:
                gen, max_batch = rec["gen"], rec["superseded_max_batch"]
    gen_path = f"{parts_dir}/compacted/gen={gen}" if gen >= 0 else None
    live = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("batch_id="):
                continue
            bid = int(name.split("=", 1)[1])
            if bid <= max_batch and gen >= 0:
                continue  # absorbed into the committed generation
            ok = jvm.org.apache.hadoop.fs.Path(
                f"{parts_dir}/{name}/_SUCCESS"
            )
            if fs.exists(ok):
                live.append((bid, f"{parts_dir}/{name}"))
    live.sort()
    return gen_path, gen, max_batch, live


def read_rollup(spark: SparkSession, parts_dir: str) -> DataFrame:
    """Final-merge view over the committed state: same schema as
    operators/windows.tumbling (win_start_us, event_type, n,
    sum_value)."""
    gen_path, _, _, live = _live_state(spark, parts_dir)
    paths = ([gen_path] if gen_path else []) + [p for _, p in live]
    if not paths:
        raise ValueError(f"rollup at {parts_dir} has no committed parts")
    parts = spark.read.parquet(*paths)
    return (
        parts.groupBy("win_start_us", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value_dec").cast("double"), 2).alias("sum_value"),
        )
    )


def _write_gen_data(spark: SparkSession, parts_dir: str) -> tuple[int, int] | None:
    """Compaction phase 1: merge the committed state into a fresh
    UNCOMMITTED ``compacted/gen=G+1`` directory. Returns (new_gen,
    new_superseded_max_batch), or None when there is nothing to fold
    (fewer than two live inputs). Crash after this phase leaves an
    orphan dir that the next attempt overwrites."""
    gen_path, gen, _, live = _live_state(spark, parts_dir)
    n_inputs = (1 if gen_path else 0) + len(live)
    if n_inputs < 2 or not live:
        return None
    new_gen = gen + 1
    new_max = live[-1][0]
    paths = ([gen_path] if gen_path else []) + [p for _, p in live]
    merged = (
        spark.read.parquet(*paths)
        .groupBy("win_start_us", "event_type")
        .agg(
            F.sum("n").alias("n"),
            # keep the pinned decimal(38,2) state type (see rollup_batch)
            F.sum("sum_value_dec").cast("decimal(38,2)").alias("sum_value_dec"),
        )
    )
    merged.write.mode("overwrite").parquet(
        f"{parts_dir}/compacted/gen={new_gen}"
    )
    return new_gen, new_max


def _commit_gen(
    spark: SparkSession, parts_dir: str, new_gen: int, new_max: int
) -> None:
    """Compaction phase 2 — THE atomic step: publish the commit record
    via create-temp + rename (rename to a fresh name is atomic on
    local FS and HDFS; on S3A it is a metadata copy of a ~60-byte
    object — still effectively a point switch)."""
    fs, _, jvm = hadoop_fs(spark, parts_dir)
    commit_root = jvm.org.apache.hadoop.fs.Path(f"{parts_dir}/{COMMIT_DIR}")
    fs.mkdirs(commit_root)
    final = f"{parts_dir}/{COMMIT_DIR}/gen-{new_gen}.json"
    if not publish_json(
        fs, jvm,
        f"{parts_dir}/{COMMIT_DIR}/.gen-{new_gen}.json.tmp",
        final,
        {"gen": new_gen, "superseded_max_batch": new_max},
    ):
        raise IOError(f"commit rename failed for {final}")


def _cleanup_superseded(spark: SparkSession, parts_dir: str) -> None:
    """Compaction phase 3 (lazy, idempotent): delete batch dirs and
    generations superseded by the PREVIOUS committed generation — a
    one-compaction-cycle grace window for in-flight readers.

    ``read_rollup`` resolves concrete paths eagerly but Spark scans
    them lazily: a DataFrame planned against the gen=G view may run
    its action after gen=G+1 commits. Deleting G's inputs the moment
    G+1 lands would fail that reader with FileNotFound, so cleanup
    deletes only state that BOTH of the two newest generations have
    superseded: everything visible in the committed view at G stays
    on disk until G+1 commits AND its cleanup runs (i.e. until the
    next full compaction cycle). An in-flight plan would have to
    straddle an entire later compaction to observe a deletion — the
    documented retention contract. With fewer than two committed
    generations nothing is old enough to delete."""
    fs, root, jvm = hadoop_fs(spark, parts_dir)
    commit_root = jvm.org.apache.hadoop.fs.Path(f"{parts_dir}/{COMMIT_DIR}")
    gens: dict[int, int] = {}  # gen -> superseded_max_batch
    if fs.exists(commit_root):
        for st in fs.listStatus(commit_root):
            name = st.getPath().getName()
            if not (name.startswith("gen-") and name.endswith(".json")):
                continue
            rec = read_json(fs, st.getPath())
            gens[rec["gen"]] = rec["superseded_max_batch"]
    if len(gens) < 2:
        return  # grace: the newest generation's inputs are kept one cycle
    ordered = sorted(gens)
    g_prev = ordered[-2]
    prev_max = gens[g_prev]
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            bid = int(name.split("=", 1)[1])
            # Only epochs the checkpoint has already committed PAST can
            # never replay, and the checkpoint frontier is at most the
            # HIGHEST absorbed id: a restart replays only its last
            # uncommitted epoch, so dirs strictly below the PREVIOUS
            # generation's frontier are both replay-proof and outside
            # every reader's grace window; the frontier dir itself is
            # deferred (ignored by readers anyway). The _SUCCESS skip
            # additionally avoids touching a dir whose rewrite already
            # started.
            if bid >= prev_max:
                continue
            ok = jvm.org.apache.hadoop.fs.Path(
                f"{parts_dir}/{name}/_SUCCESS"
            )
            if not fs.exists(ok):
                continue
            try:
                fs.delete(st.getPath(), True)
            except Exception:
                pass  # best-effort: an undeletable dir stays ignored
                # by readers and is retried by every later compaction
    comp_root = jvm.org.apache.hadoop.fs.Path(f"{parts_dir}/compacted")
    if fs.exists(comp_root):
        for st in fs.listStatus(comp_root):
            name = st.getPath().getName()
            if name.startswith("gen=") and int(name.split("=", 1)[1]) < g_prev:
                fs.delete(st.getPath(), True)
    for st in fs.listStatus(commit_root):
        name = st.getPath().getName()
        if (
            name.startswith("gen-")
            and name.endswith(".json")
            and int(name[4:-5]) < g_prev
        ):
            fs.delete(st.getPath(), False)


def compact_rollup(spark: SparkSession, parts_dir: str) -> None:
    """Fold the committed parts into a single pre-aggregated part.

    Crash-atomic (see module doc): merged data first, atomic commit
    record second, deletion of superseded dirs last — at no point can
    a crash lose or double-count rollup state, and readers always see
    one complete generation. Keeps the parts listing O(1) instead of
    O(batches) on long-running rollups. Safe beside a live stream
    (single compactor; see the concurrency contract in the module
    doc). DECIMAL partial sums are preserved, so the final reader's
    result is unchanged.
    """
    staged = _write_gen_data(spark, parts_dir)
    if staged is None:
        return
    _commit_gen(spark, parts_dir, *staged)
    _cleanup_superseded(spark, parts_dir)


def run_continuous_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    parts_dir: str,
    checkpoint_dir: str,
    duration: str = "10 minutes",
) -> DataFrame:
    """Drive the stream to completion (availableNow) and return the
    merged rollup."""
    start_foreach_batch(
        events_stream,
        checkpoint_dir,
        lambda b, bid: rollup_batch(b, bid, parts_dir, duration),
    ).awaitTermination()
    return read_rollup(spark, parts_dir)
