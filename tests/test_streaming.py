"""Streaming pipeline tests (SURVEY.md §7 step 5): stream/batch parity
on the full sales corpus, plus watermarked windowed aggregation."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bigdataflink_spark.plans import build_star
from bigdataflink_spark.sources import read_sales_csv
from bigdataflink_spark.sources.producer import produce_jsonl
from bigdataflink_spark.sources.tables import load_table
from bigdataflink_spark.streaming import run_stream_to_star


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="stream_star_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_stream_batch_parity(spark, workdir, sales_corpus):
    """Replaying all 10 CSVs through the file stream (1 file per
    micro-batch, like the producer's per-file sends) must yield
    byte-identical star tables to the one-shot batch build."""
    n = produce_jsonl(spark, f"{workdir}/landing", sales_corpus.glob)
    assert n == 10000

    stream_star = run_stream_to_star(
        spark,
        f"{workdir}/landing",
        f"{workdir}/state",
        f"{workdir}/ckpt",
        max_files_per_trigger=1,
    )
    batch_star = build_star(read_sales_csv(spark, sales_corpus.glob))

    for name in batch_star:
        b = batch_star[name]
        s = stream_star[name]
        assert sorted(b.columns) == sorted(s.columns), name
        brows = {tuple(r) for r in b.select(*sorted(b.columns)).collect()}
        srows = {tuple(r) for r in s.select(*sorted(b.columns)).collect()}
        assert brows == srows, f"{name}: stream/batch rows differ"


def test_streaming_windowed_agg_matches_batch(spark, workdir):
    """Watermarked tumbling window over a streamed copy of events ==
    batch window aggregation (availableNow replay)."""
    events = load_table(spark, "events", "/root/testdata/sf0.001")
    src = f"{workdir}/events_parquet"
    events.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/ckpt_win")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.win_start_us, r.event_type): r.n
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    expected = {
        (r.win_start_us, r.event_type): r.n
        for r in (
            events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "n")
        ).collect()
    }
    # watermark may hold back the final (open) windows in append mode;
    # everything emitted must match, and coverage must be near-total
    assert got
    for k, v in got.items():
        assert expected.get(k) == v
    assert len(got) >= len(expected) - 5


def test_error_side_channel(spark, workdir):
    """P10: malformed JSON lands in the errors stream; good rows parse."""
    from bigdataflink_spark.streaming import read_sales_stream

    src = f"{workdir}/bad_landing"
    import os

    os.makedirs(src, exist_ok=True)
    with open(f"{src}/part-0.txt", "w") as f:
        f.write('{"id": "1", "sale_quantity": "2", "arrival_seq": 1}\n')
        f.write("this is not json\n")
        f.write('{"id": "7", "arrival_seq": 2}\n')

    records, errors = read_sales_stream(spark, src)
    rq = (
        records.writeStream.format("memory").queryName("rec_t")
        .option("checkpointLocation", f"{workdir}/ckpt_rec")
        .trigger(availableNow=True).start()
    )
    eq = (
        errors.writeStream.format("memory").queryName("err_t")
        .option("checkpointLocation", f"{workdir}/ckpt_err")
        .trigger(availableNow=True).start()
    )
    rq.awaitTermination()
    eq.awaitTermination()
    recs = spark.sql("SELECT id FROM rec_t").collect()
    errs = spark.sql("SELECT * FROM err_t").collect()
    assert sorted(r.id for r in recs) == ["1", "7"]
    assert len(errs) == 1 and errs[0].status.startswith("error:")


def test_streaming_dedup_within_watermark(spark, workdir):
    """At-least-once replay (every event delivered twice) collapses to
    exactly one row per event_id with watermark-bounded engine state."""
    from bigdataflink_spark.streaming.dedup import streaming_dedup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").limit(200)
    ev.unionByName(ev).write.mode("overwrite").parquet(f"{workdir}/dedup_in")

    stream = spark.readStream.schema(ev.schema).parquet(f"{workdir}/dedup_in")
    deduped = streaming_dedup(stream, ["event_id"], "ts", "30 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/dedup_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_sink")
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200


def test_stream_static_enrichment_join(spark, workdir):
    """Stream-static join (SURVEY J1, streaming flavor): a streaming
    events feed enriched against a static dimension; the static side
    broadcasts per micro-batch, the stream side never shuffles."""
    ev = load_table(spark, "events", "/root/testdata/sf0.001").limit(300)
    ev.write.mode("overwrite").parquet(f"{workdir}/enrich_in")

    # static "user dim": derived deterministic attributes per user
    user_dim = (
        ev.select("user_id").distinct().withColumn("tier", F.pmod("user_id", F.lit(3)))
    )
    stream = spark.readStream.schema(ev.schema).parquet(f"{workdir}/enrich_in")
    enriched = stream.join(F.broadcast(user_dim), "user_id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/enrich_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("enrich_sink")
    assert out.count() == 300
    assert out.filter(F.col("tier").isNull()).count() == 0
    # parity with the batch join
    batch = ev.join(user_dim, "user_id", "left")
    assert sorted(r.event_id for r in out.select("event_id").collect()) == sorted(
        r.event_id for r in batch.select("event_id").collect()
    )


def test_continuous_rollup_matches_batch(spark, workdir):
    """Hypertable-style continuous rollup: incremental per-batch
    partial aggregates, merged on read, must equal the one-shot batch
    tumbling window bit-for-bit (decimal partials, round-at-the-end)."""
    from bigdataflink_spark.operators.windows import tumbling
    from bigdataflink_spark.streaming.rollup import run_continuous_rollup

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    src = f"{workdir}/rollup_events"
    events.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rolled = run_continuous_rollup(
        spark, stream, f"{workdir}/rollup_parts", f"{workdir}/rollup_ckpt"
    )
    batch = tumbling(events, "10 minutes")

    cols = sorted(batch.columns)
    assert sorted(rolled.columns) == cols
    a = sorted(map(tuple, rolled.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert a == b


def test_rollup_compaction_preserves_totals(spark, workdir):
    """Compacting the rollup parts into one pre-aggregated part must
    not change the merged result."""
    import os

    from bigdataflink_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        run_continuous_rollup,
    )

    parts_dir = f"{workdir}/rollup_parts"
    if not os.path.exists(parts_dir):  # self-sufficient when run alone
        events = load_table(spark, "events", "/root/testdata/sf0.001")
        src = f"{workdir}/rollup_events"
        events.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        run_continuous_rollup(spark, stream, parts_dir, f"{workdir}/rollup_ckpt")
    before = sorted(map(tuple, read_rollup(spark, parts_dir).collect()))
    compact_rollup(spark, parts_dir)
    after = sorted(map(tuple, read_rollup(spark, parts_dir).collect()))
    assert before == after


def test_late_data_dropped_past_watermark(spark, workdir):
    """T4 (extension): with a 30-minute watermark, an event arriving
    after the watermark has passed its window is DROPPED — the
    already-emitted window result does not change and the late row
    contributes nowhere. Two availableNow runs share one checkpoint,
    so run 2 restores the watermark (11:30) persisted by run 1 —
    exactly the restart-safe semantics a 100 TB deployment relies on.
    (The reference accepts all late rows because it has no event-time
    semantics at all; dropping is the bounded-state trade the
    watermark buys.)"""
    src = f"{workdir}/late_src"
    ckpt = f"{workdir}/ckpt_late"
    out = f"{workdir}/late_out"
    schema = "ts timestamp, v long"

    def write_batch(rows, mode):
        df = spark.createDataFrame(rows, "ts_s string, v long").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "v"
        )
        df.coalesce(1).write.mode(mode).parquet(src)

    def run_stream():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
            .select(F.unix_micros("w.start").alias("win_us"), "n", "sum_v")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: three rows in the 10:00 window + one at 12:00 that
    # advances the persisted watermark to 11:30, sealing that window
    write_batch(
        [("2024-01-01 10:01:00", 1), ("2024-01-01 10:04:00", 2),
         ("2024-01-01 10:09:00", 3), ("2024-01-01 12:00:00", 4)],
        "overwrite",
    )
    run_stream()
    sealed = {r.win_us: (r.n, r.sum_v) for r in spark.read.parquet(out).collect()}

    # run 2: one LATE row (10:05 < restored watermark 11:30) and one
    # on-time row
    write_batch(
        [("2024-01-01 10:05:00", 99), ("2024-01-01 12:01:00", 5)],
        "append",
    )
    run_stream()
    rows = {r.win_us: (r.n, r.sum_v) for r in spark.read.parquet(out).collect()}

    win_10 = int(
        spark.sql("SELECT unix_micros(TIMESTAMP '2024-01-01 10:00:00')").collect()[0][0]
    )
    # run 1 emitted the sealed 10:00 window with ONLY its own rows
    assert sealed[win_10] == (3, 6), sealed
    # run 2 neither re-emitted that window nor let v=99 in anywhere
    assert rows[win_10] == (3, 6), rows
    assert not any(sum_v >= 99 for _, sum_v in rows.values()), rows


def test_bucketed_merge_matches_full_rewrite(spark, workdir, monkeypatch):
    """MERGE-on-key via dynamic partition overwrite: applying
    overlapping batches through the bucketed store must equal a
    one-shot LWW over the concatenation, AND leave clean buckets'
    files byte-identical (O(dirty) write amplification, not
    O(state)). The dynamic mode must come from the write itself: the
    session conf stays ``static`` and is never written (concurrent
    merges share the session)."""
    import hashlib
    import os

    from pyspark.sql.conf import RuntimeConfig

    from bigdataflink_spark.operators.dedup import lww_dedup
    from bigdataflink_spark.streaming.merge import (
        BUCKET_COL,
        merge_lww_bucketed,
        read_state,
    )

    path = f"{workdir}/bucketed_state"
    schema = "k long, payload string, arrival_seq long"
    batches = [
        [(k, f"b0_{k}", k) for k in range(0, 200)],
        [(k, f"b1_{k}", 1000 + k) for k in range(100, 300)],
        # batch 2 touches just two keys -> at most two dirty buckets
        [(5, "b2_5", 2005), (105, "b2_105", 2105)],
    ]

    def snapshot():
        out = {}
        for dp, _, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet"):
                    full = os.path.join(dp, f)
                    out[os.path.relpath(full, path)] = hashlib.md5(
                        open(full, "rb").read()
                    ).hexdigest()
        return out

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "static")

    def no_session_conf_writes(self, key, value):
        raise AssertionError(f"merge wrote session conf {key}={value}")

    monkeypatch.setattr(RuntimeConfig, "set", no_session_conf_writes)
    try:
        for i, rows in enumerate(batches):
            if i == 2:
                before = snapshot()
            merge_lww_bucketed(
                spark, spark.createDataFrame(rows, schema), path, "k", num_buckets=8
            )
    finally:
        monkeypatch.undo()
        spark.conf.set(mode_key, prev_mode)

    got = sorted(tuple(r) for r in read_state(spark, path).collect())
    everything = spark.createDataFrame([r for rows in batches for r in rows], schema)
    expected = sorted(
        tuple(r) for r in lww_dedup(everything, ["k"], "arrival_seq").collect()
    )
    assert got == expected

    dirty = {
        r[0]
        for r in spark.createDataFrame(batches[2], schema)
        .select(F.pmod(F.hash("k"), F.lit(8)))
        .distinct()
        .collect()
    }
    assert len(dirty) <= 2
    after = snapshot()
    clean_checked = 0
    for rel, digest in before.items():
        bucket = int(rel.split(f"{BUCKET_COL}=")[1].split(os.sep)[0])
        if bucket in dirty:
            continue
        assert after.get(rel) == digest, rel  # clean bucket untouched
        clean_checked += 1
    assert clean_checked > 0


def test_bucketed_merge_rejects_bucket_count_change(spark, workdir):
    """Re-merging with a different num_buckets would leave stale
    winners in the old buckets — the pinned state metadata must fail
    fast instead."""
    import pytest

    from bigdataflink_spark.streaming.merge import merge_lww_bucketed

    path = f"{workdir}/bucketed_state_meta"
    schema = "k long, payload string, arrival_seq long"
    merge_lww_bucketed(
        spark, spark.createDataFrame([(1, "a", 1)], schema), path, "k", num_buckets=8
    )
    with pytest.raises(ValueError, match="num_buckets"):
        merge_lww_bucketed(
            spark, spark.createDataFrame([(1, "b", 2)], schema), path, "k", num_buckets=16
        )
    # same bucket count still merges fine (and the meta file inside the
    # state dir must not confuse the parquet reader)
    merge_lww_bucketed(
        spark, spark.createDataFrame([(1, "c", 3)], schema), path, "k", num_buckets=8
    )
    from bigdataflink_spark.streaming.merge import read_state

    assert [tuple(r) for r in read_state(spark, path).collect()] == [(1, "c", 3)]


_KV_SCHEMA = "k long, payload string, arrival_seq long"
_SPLIT_KEY = "spark.sql.files.maxPartitionBytes"


def _lww_truth(spark, rows):
    from bigdataflink_spark.operators.dedup import lww_dedup

    df = spark.createDataFrame(rows, _KV_SCHEMA)
    return sorted(tuple(r) for r in lww_dedup(df, ["k"], "arrival_seq").collect())


def _state_rows(spark, path):
    from bigdataflink_spark.streaming.merge import read_state

    return sorted(tuple(r) for r in read_state(spark, path).collect())


def _state_bytes(spark, path):
    from bigdataflink_spark.sources.formats import hadoop_fs

    fs, hpath, _ = hadoop_fs(spark, path)
    return fs.getContentSummary(hpath).getLength()


def _pinned_buckets(path):
    import json
    import os

    with open(os.path.join(path, "_bdf_state_meta.json")) as f:
        return json.load(f)["num_buckets"]


def test_fit_state_buckets_grows_by_staged_rebucket(spark, workdir):
    """A state starts with one bucket and is rebucketed to the smallest
    power of two whose splits hold its bytes: lowering the split size
    between merges grows N 1 → 2 → 4. After every merge the state is
    the LWW of all rows so far, every bucket dir is below N, and the
    metadata pins N, so a merge with the old N still fails fast."""
    import os

    from bigdataflink_spark.streaming.merge import fit_state_buckets, merge_lww_bucketed

    path = f"{workdir}/grown_state"
    batches = [
        [(k, f"b{i}_{k}", 1000 * i + k) for k in range(60 * i, 60 * i + 100)]
        for i in range(4)
    ]
    prev_split = spark.conf.get(_SPLIT_KEY)
    seen, merged = [], []
    try:
        for i, rows in enumerate(batches):
            if i:
                # bytes == split fits one bucket; then a split of
                # ceil(bytes / 2N) needs exactly 2N buckets
                per = 1 if i == 1 else 2 * seen[-1]
                spark.conf.set(_SPLIT_KEY, str(-(-_state_bytes(spark, path) // per)))
            n = fit_state_buckets(spark, path)
            merge_lww_bucketed(spark, spark.createDataFrame(rows, _KV_SCHEMA), path, "k",
                               num_buckets=n)
            seen.append(n)
            merged += rows
            assert _state_rows(spark, path) == _lww_truth(spark, merged)
            buckets = [int(d.split("=")[1]) for d in os.listdir(path)
                       if d.startswith("_bucket=")]
            assert buckets and all(b < n for b in buckets), (n, buckets)
            assert _pinned_buckets(path) == n
    finally:
        spark.conf.set(_SPLIT_KEY, prev_split)
    assert seen == [1, 1, 2, 4]
    assert not os.path.exists(path + ".compact_tmp")
    assert not os.path.exists(path + ".compact_old")
    with pytest.raises(ValueError, match="num_buckets"):
        merge_lww_bucketed(spark, spark.createDataFrame([(1, "x", 9999)], _KV_SCHEMA), path,
                           "k", num_buckets=2)


@pytest.mark.parametrize("failure", ["crash", "refused"])
def test_rebucket_second_rename_failure_recovers_old_state(spark, workdir, monkeypatch,
                                                           failure):
    """The rebucket's swap fails at its second rename, either by a
    crash (the old state is parked at ``.compact_old``) or by a refused
    rename (rolled back, the staged dir left behind). The call raises;
    the next read recovers the pre-rebucket state, and a rerun
    finishes the rebucket."""
    import os

    from bigdataflink_spark.sources import formats
    from bigdataflink_spark.streaming.merge import fit_state_buckets, merge_lww_bucketed

    path = f"{workdir}/rebucket_{failure}"
    rows = [(k % 150, f"v{k}", k) for k in range(200)]
    merge_lww_bucketed(spark, spark.createDataFrame(rows, _KV_SCHEMA), path, "k",
                       num_buckets=1)
    truth = _lww_truth(spark, rows)
    real_hadoop_fs = formats.hadoop_fs

    class SecondRenameFails:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if src.getName().endswith(".compact_tmp"):
                if failure == "crash":
                    raise OSError("injected crash between the renames")
                return False
            return self._fs.rename(src, dst)

    def failing_hadoop_fs(spark_, p):
        fs, hpath, jvm = real_hadoop_fs(spark_, p)
        return SecondRenameFails(fs), hpath, jvm

    prev_split = spark.conf.get(_SPLIT_KEY)
    spark.conf.set(_SPLIT_KEY, str(-(-_state_bytes(spark, path) // 2)))
    try:
        monkeypatch.setattr(formats, "hadoop_fs", failing_hadoop_fs)
        with pytest.raises(OSError):
            fit_state_buckets(spark, path)
        monkeypatch.undo()
        assert os.path.exists(path) == (failure == "refused")
        assert _state_rows(spark, path) == truth
        assert _pinned_buckets(path) == 1
        assert not os.path.exists(path + ".compact_tmp")
        assert not os.path.exists(path + ".compact_old")
        assert fit_state_buckets(spark, path) == 2
    finally:
        spark.conf.set(_SPLIT_KEY, prev_split)
    assert _state_rows(spark, path) == truth
    assert _pinned_buckets(path) == 2


def test_one_bucket_merge_runs_no_collect(spark, workdir, monkeypatch):
    """A one-bucket state's only bucket is the dirty one: merging into
    it must not collect the dirty-bucket list to the driver."""
    from bigdataflink_spark.streaming.merge import merge_lww_bucketed

    path = f"{workdir}/one_bucket_state"
    first = [(k, f"a{k}", k) for k in range(50)]
    second = [(k, f"b{k}", 100 + k) for k in range(25, 75)]
    merge_lww_bucketed(spark, spark.createDataFrame(first, _KV_SCHEMA), path, "k",
                       num_buckets=1)
    incoming = spark.createDataFrame(second, _KV_SCHEMA)

    def no_collect(self):
        raise AssertionError("one-bucket merge collected to the driver")

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # an abstract base that the classic implementation overrides)
    monkeypatch.setattr(type(incoming), "collect", no_collect)
    merge_lww_bucketed(spark, incoming, path, "k", num_buckets=1)
    monkeypatch.undo()
    assert _state_rows(spark, path) == _lww_truth(spark, first + second)


def test_fit_state_buckets_small_state_is_noop(spark, workdir):
    """A new state gets one bucket, and a state below one split keeps
    its N (1, or a larger pinned N: N never shrinks); neither probe
    writes anything."""
    import os

    from bigdataflink_spark.streaming.merge import fit_state_buckets, merge_lww_bucketed

    def listing(p):
        return sorted(
            (os.path.join(dp, f), os.stat(os.path.join(dp, f)).st_mtime_ns)
            for dp, _, fs in os.walk(p)
            for f in fs
        )

    new = f"{workdir}/small_new"
    assert fit_state_buckets(spark, new) == 1
    assert not os.path.exists(new)
    for n in (1, 4):
        path = f"{workdir}/small_{n}"
        rows = [(k, f"v{k}", k) for k in range(20)]
        merge_lww_bucketed(spark, spark.createDataFrame(rows, _KV_SCHEMA), path, "k",
                           num_buckets=n)
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        assert _state_bytes(spark, path) < split
        before = listing(path)
        assert fit_state_buckets(spark, path) == n
        assert listing(path) == before
        assert not os.path.exists(path + ".compact_tmp")


def test_state_metadata_is_published_once(spark, workdir):
    """The first merge publishes the state metadata and later merges
    never rewrite it: a rewrite in place can be torn by a crash, and a
    torn metadata file fails every later read and merge. The pinned
    schema is the one later reads give back (every field nullable),
    although the first batch's columns are not nullable."""
    import json
    import os

    from pyspark.sql.types import StructType

    from bigdataflink_spark.streaming.merge import merge_lww_bucketed

    path = f"{workdir}/meta_once"
    meta = os.path.join(path, "_bdf_state_meta.json")

    def batch(lo, seq):
        return spark.range(lo, lo + 20).select(
            F.col("id").alias("k"),
            F.array(F.col("id")).alias("ids"),
            F.struct(F.col("id").alias("x")).alias("st"),
            (F.col("id") + seq).alias("arrival_seq"),
        )

    merge_lww_bucketed(spark, batch(0, 0), path, "k", num_buckets=4)
    with open(meta, "rb") as f:
        before = f.read()
    mtime = os.stat(meta).st_mtime_ns
    merge_lww_bucketed(spark, batch(10, 100), path, "k", num_buckets=4)
    with open(meta, "rb") as f:
        assert f.read() == before
    assert os.stat(meta).st_mtime_ns == mtime
    pinned = StructType.fromJson(json.loads(json.loads(before)["schema"]))
    assert pinned == spark.read.parquet(path).schema


def test_torn_metadata_publish_recovers_on_next_merge(spark, workdir, monkeypatch):
    """A first merge that dies inside its metadata publish leaves its
    rows and a partial temp: the state still reads, the next merge
    completes and publishes the metadata, and no temp is left."""
    import os

    from bigdataflink_spark.streaming import merge

    path = f"{workdir}/meta_torn"
    first = [(k, f"a{k}", k) for k in range(30)]
    second = [(k, f"b{k}", 100 + k) for k in range(20, 40)]

    def torn_publish(fs, jvm, tmp, final, record):
        out = fs.create(jvm.org.apache.hadoop.fs.Path(tmp), True)
        out.write(bytearray(b'{"num_buck'))
        out.close()
        raise OSError("injected crash inside the metadata publish")

    monkeypatch.setattr(merge, "publish_json", torn_publish)
    with pytest.raises(OSError, match="injected"):
        merge.merge_lww_bucketed(spark, spark.createDataFrame(first, _KV_SCHEMA), path, "k",
                                 num_buckets=1)
    monkeypatch.undo()
    assert _state_rows(spark, path) == _lww_truth(spark, first)
    assert merge.fit_state_buckets(spark, path) == 1
    merge.merge_lww_bucketed(spark, spark.createDataFrame(second, _KV_SCHEMA), path, "k",
                             num_buckets=1)
    assert _state_rows(spark, path) == _lww_truth(spark, first + second)
    assert _pinned_buckets(path) == 1
    assert [f for f in os.listdir(path) if "tmp" in f] == []


def test_dead_letter_sink_persists_malformed_records(spark, workdir):
    """A malformed payload must land in the dead-letter parquet (with
    the raw line preserved) while the pipeline completes and builds
    the star from the good records — the reference's error-status
    stream as a durable sink."""
    import json
    import os

    from bigdataflink_spark.streaming.pipeline import read_dead_letters

    landing = f"{workdir}/dl_landing"
    os.makedirs(landing)
    good = {"id": "1", "sale_customer_id": "7", "customer_first_name": "A",
            "customer_last_name": "B", "sale_quantity": "2",
            "sale_total_price": "10.5", "sale_date": "5/14/2021",
            "arrival_seq": 0}
    bad_line = '{"id": "2", "sale_customer_id": broken'
    with open(f"{landing}/batch0.jsonl", "w") as f:
        f.write(json.dumps(good) + "\n" + bad_line + "\n")

    tables = run_stream_to_star(
        spark,
        landing,
        f"{workdir}/dl_state",
        f"{workdir}/dl_ckpt",
        dead_letter_dir=f"{workdir}/dl_dead",
    )
    # pipeline completed on the good record
    assert tables["fact_sales"].count() == 1
    # the malformed line is in the dead letter, raw payload intact
    dead = read_dead_letters(spark, f"{workdir}/dl_dead").collect()
    assert len(dead) == 1
    assert dead[0]["status"] == "error: malformed json"
    assert dead[0]["_raw"] == bad_line


def test_stream_stream_interval_join_matches_batch(spark, workdir):
    """Watermarked stream-stream interval join (clicks → purchases
    within 10 min per user) over an ordered availableNow replay must
    equal the same interval join run as a single batch."""
    from bigdataflink_spark.sources.tables import load_table
    from bigdataflink_spark.streaming.join import interval_join

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    cdir, pdir = f"{workdir}/ssj_clicks", f"{workdir}/ssj_purch"
    clicks.write.mode("overwrite").parquet(cdir)
    purchases.write.mode("overwrite").parquet(pdir)

    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    joined = interval_join(cs, ps, "c_user", "p_user", "c_ts", "p_ts", upper="10 minutes")
    out = f"{workdir}/ssj_out"
    q = (
        joined.select("click_id", "purchase_id", "p_value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/ssj_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = interval_join(
        clicks, purchases, "c_user", "p_user", "c_ts", "p_ts", upper="10 minutes"
    ).select("click_id", "purchase_id", "p_value")
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert len(want) > 0
    assert got == want


def test_stream_stream_interval_join_left_outer_matches_batch(spark, workdir):
    """leftOuter interval join: unmatched clicks surface with NULL
    purchase columns once the right watermark passes click_ts+upper.
    The global watermark is the MIN across all sources, so BOTH
    streams carry a far-future sentinel — advancing only the right
    side would leave the left watermark capping the join watermark
    and withhold the newest clicks' outer rows. Sentinels match
    nothing and are filtered from the comparison."""
    from bigdataflink_spark.sources.tables import load_table
    from bigdataflink_spark.streaming.join import interval_join

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    p_sentinel = purchases.limit(1).select(
        F.lit(-1).alias("p_user"),
        F.lit(-1).alias("purchase_id"),
        (F.col("p_ts") + F.expr("INTERVAL 10 YEARS")).alias("p_ts"),
    )
    purchases = purchases.unionByName(p_sentinel)
    c_sentinel = clicks.limit(1).select(
        F.lit(-1).alias("c_user"),
        F.lit(-1).alias("click_id"),
        (F.col("c_ts") + F.expr("INTERVAL 10 YEARS")).alias("c_ts"),
    )
    clicks = clicks.unionByName(c_sentinel)

    cdir, pdir = f"{workdir}/lsj_clicks", f"{workdir}/lsj_purch"
    clicks.write.mode("overwrite").parquet(cdir)
    purchases.write.mode("overwrite").parquet(pdir)

    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    joined = interval_join(
        cs, ps, "c_user", "p_user", "c_ts", "p_ts",
        upper="10 minutes", how="leftOuter",
    )
    out = f"{workdir}/lsj_out"
    # NOTE: the sentinel must NOT be filtered inside the pipeline —
    # a `click_id >= 0` filter there gets pushed down into the source
    # scan, removing the sentinel before the watermark ever sees its
    # event time. Filter after collect instead.
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/lsj_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = interval_join(
        clicks, purchases, "c_user", "p_user", "c_ts", "p_ts",
        upper="10 minutes", how="leftOuter",
    ).select("click_id", "purchase_id")
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).collect() if r["click_id"] >= 0
    )
    want = sorted(tuple(r) for r in batch.collect() if r["click_id"] >= 0)
    assert got == want
    # the outer semantics actually fired: some clicks are unmatched
    assert any(p is None for _, p in got)
    assert any(p is not None for _, p in got)


def test_interval_join_rejects_bad_how(spark):
    from bigdataflink_spark.sources.tables import load_table
    from bigdataflink_spark.streaming.join import interval_join

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    a = ev.select(F.col("user_id").alias("u1"), F.col("ts").alias("t1"))
    b = ev.select(F.col("user_id").alias("u2"), F.col("ts").alias("t2"))
    with pytest.raises(ValueError, match="interval_join supports"):
        interval_join(a, b, "u1", "u2", "t1", "t2", how="fullOuter")


def test_interval_join_rejects_column_clash(spark):
    from bigdataflink_spark.sources.tables import load_table
    from bigdataflink_spark.streaming.join import interval_join

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    with pytest.raises(ValueError, match="rename overlapping"):
        interval_join(ev, ev, "user_id", "user_id", "ts", "ts")


def test_streaming_moments_match_batch_zscore(spark, tmp_path):
    """Moment state folded over arbitrary micro-batches must equal the
    one-shot batch operator bit-for-bit (decimal partials commute)."""
    from bigdataflink_spark.operators.timeseries import zscore_flags
    from bigdataflink_spark.streaming.moments import (
        anomaly_audit,
        run_moments_stream,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    # three arrival slices -> three micro-batches
    for i, (lo, hi) in enumerate([(0, 300), (300, 700), (700, 10**9)]):
        events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).write.parquet(f"{src}/slice={i}")
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stats = run_moments_stream(
        spark, stream, str(tmp_path / "parts"), str(tmp_path / "ckpt")
    )
    got = sorted(
        tuple(r)
        for r in anomaly_audit(events, stats).collect()
    )
    want = sorted(tuple(r) for r in zscore_flags(events).collect())
    assert got == want


def test_streaming_topk_matches_batch(spark, tmp_path):
    """Merged per-batch token counts must give exactly the one-shot
    batch top-k (integer counts merge losslessly for any slicing)."""
    from bigdataflink_spark.streaming.topk import run_topk_stream

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "srcdocs")
    for i, (lo, hi) in enumerate([(0, 40), (40, 70), (70, 10**9)]):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).write.parquet(
            f"{src}/slice={i}"
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = [
        (r.token, r.cnt)
        for r in run_topk_stream(
            spark, stream, str(tmp_path / "parts"), str(tmp_path / "ckpt"), k=8
        ).collect()
    ]
    from bigdataflink_spark.operators.text import tokens as _toks

    want = [
        (r.token, r.cnt)
        for r in docs.select(F.explode(_toks("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(8)
        .collect()
    ]
    assert got == want


def test_streaming_session_window_matches_batch(spark, workdir):
    """Event-time session windows in a watermarked stream (append
    mode) equal the batch operators/windows.session answer. Append
    mode only emits a session once the watermark passes its close, so
    a far-future sentinel event flushes the final sessions; the
    sentinel's own session (user -1) is excluded from the compare."""
    from bigdataflink_spark.operators import windows as W
    from bigdataflink_spark.sources.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id", "ts", "value", "event_id"
    )
    sentinel = events.limit(1).select(
        F.lit(-1).alias("user_id"),
        (F.col("ts") + F.expr("INTERVAL 10 YEARS")).alias("ts"),
        F.lit(0.0).alias("value"),
        F.lit(-1).alias("event_id"),
    )
    staged = events.unionByName(sentinel)
    src = f"{workdir}/sess_src"
    staged.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(staged.schema)
        .parquet(src)
        .withWatermark("ts", "30 minutes")
    )
    out = f"{workdir}/sess_out"
    q = (
        W.session(stream, gap="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/sess_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out).collect()
        if r["user_id"] >= 0
    )
    want = sorted(
        tuple(r) for r in W.session(events, gap="30 minutes").collect()
    )
    assert len(want) > 0
    assert got == want


def test_streaming_scd2_matches_batch(spark, tmp_path):
    """Incremental SCD2 change-log state folded over time-ordered
    micro-batches must equal operators/scd.scd2_history bit-exactly
    (CDC contract: per-key nondecreasing event time across batches —
    guaranteed here by slicing on global time)."""
    from bigdataflink_spark.operators.scd import scd2_history
    from bigdataflink_spark.streaming.scd2 import (
        read_scd2_history,
        run_scd2_stream,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id", "event_type", "ts", "event_id"
    )
    src = str(tmp_path / "scd2_src")
    cuts = ["2024-01-10", "2024-01-20"]
    slices = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(f"{src}/slice={i}")

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp_ntz, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    state = str(tmp_path / "scd2_state")
    run_scd2_stream(
        spark, stream, state, str(tmp_path / "scd2_ckpt"),
        "user_id", "event_type", "ts", "event_id",
    )

    got = sorted(
        tuple(r)
        for r in read_scd2_history(spark, state, "user_id", "event_type").collect()
    )
    want = sorted(
        tuple(r)
        for r in scd2_history(
            events, "user_id", "event_type", "ts", "event_id"
        ).collect()
    )
    assert len(want) > 0
    assert got == want


def test_streaming_scd2_drops_late_rows(spark, tmp_path):
    """A row older than its key's newest change is dropped (counted),
    leaving the history unchanged — the documented CDC contract."""
    from bigdataflink_spark.streaming.scd2 import (
        merge_scd2_batch,
        read_scd2_history,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id", "event_type", "ts", "event_id"
    )
    state = str(tmp_path / "late_state")
    n = merge_scd2_batch(
        spark, events, state, "user_id", "event_type", "ts", "event_id"
    )
    assert n == 0
    before = sorted(
        tuple(r)
        for r in read_scd2_history(spark, state, "user_id", "event_type").collect()
    )

    late = events.orderBy("ts").limit(1).select(
        "user_id",
        F.lit("zzz_late").alias("event_type"),
        (F.col("ts") - F.expr("INTERVAL 5 YEARS")).alias("ts"),
        F.lit(10**12).alias("event_id"),
    )
    n_late = merge_scd2_batch(
        spark, late, state, "user_id", "event_type", "ts", "event_id"
    )
    assert n_late == 1
    after = sorted(
        tuple(r)
        for r in read_scd2_history(spark, state, "user_id", "event_type").collect()
    )
    assert after == before


def test_apply_in_pandas_with_state_dedup(spark, tmp_path):
    """Arbitrary-state dedup (applyInPandasWithState — runs on a plain
    PySpark install, no protobuf or RocksDB needed): duplicated
    events across micro-batches collapse to exactly one row per key,
    first occurrence (min event_id) winning."""
    from bigdataflink_spark.streaming.pandas_state import first_seen_dedup

    ev = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .limit(200)
        .select("event_id", "user_id", "value")
    )
    src = str(tmp_path / "fsd_src")
    # slice 0 and slice 1 both carry the full data -> every key is
    # redelivered in a LATER micro-batch; state must drop all repeats
    ev.coalesce(1).write.parquet(f"{src}/slice=0")
    ev.coalesce(1).write.parquet(f"{src}/slice=1")

    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = first_seen_dedup(stream, "user_id", "event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("fsd_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "fsd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.table("fsd_sink")
    want = sorted(
        tuple(r)
        for r in ev.groupBy("user_id")
        .agg(F.min("event_id").alias("event_id"))
        .join(ev, ["user_id", "event_id"])
        .select("event_id", "user_id", "value")
        .collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == want
    assert got.count() == got.select("user_id").distinct().count()


@pytest.mark.slow
def test_first_seen_dedup_ttl_expiry_and_rearm(spark, tmp_path):
    """TTL contract (ADVICE r2): a repeat INSIDE the TTL drops even
    though Spark cleared the pending timeout on that invocation (the
    marker re-arms toward its original deadline), and a redelivery
    AFTER the TTL re-emits (the marker expired — checked on the data
    path, since keys with data never see hasTimedOut).

    One continuous-trigger query with slices landed over wall-clock
    time: availableNow + ProcessingTimeTimeout never terminates in
    Spark 4.x (the trigger loops 'cleaning up state' as long as the
    timeout feature is on), so restart-per-slice is not an option.

    Clock anchoring (VERDICT r10 #1): the state deadline starts on
    ``state.getCurrentProcessingTimeMs()`` — the BATCH trigger
    timestamp, which ``recentProgress[i]["timestamp"]`` records — not
    on sink-visibility wall time. The within-TTL assertion must use
    that clock, the TTL must dwarf worst-case batch latency, and a
    too-slow box is an environment skip, not a failure.
    """
    import time
    from datetime import datetime, timezone

    from bigdataflink_spark.streaming.pandas_state import first_seen_dedup

    src = str(tmp_path / "ttl_src")
    row = spark.createDataFrame(
        [(1, 100, 1.5)], "event_id long, user_id long, value double"
    )
    row.coalesce(1).write.parquet(f"{src}/slice=0")
    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ttl_sec = 60.0  # must dwarf worst-case micro-batch latency on a loaded box
    out = first_seen_dedup(
        stream, "user_id", "event_id", ttl_minutes=ttl_sec / 60
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
        .start()
    )

    def emitted() -> int:
        return spark.table("ttl_sink").count()

    def inputs() -> int:
        return int(sum(p["numInputRows"] for p in q.recentProgress))

    def batch_epochs() -> list[float]:
        # trigger timestamps of batches that CONSUMED rows — the
        # clock the state deadline actually starts/compares on
        out = []
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                ts = p["timestamp"].replace("Z", "+00:00")
                out.append(
                    datetime.fromisoformat(ts)
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                )
        return out

    def wait_for(pred, deadline_sec: float = 120.0) -> None:
        t0 = time.time()
        while not pred():
            assert time.time() - t0 < deadline_sec, "streaming test stalled"
            time.sleep(0.25)

    try:
        # first sight emits
        wait_for(lambda: emitted() >= 1)
        wait_for(lambda: len(batch_epochs()) >= 1)
        t_anchor = batch_epochs()[0]  # deadline = t_anchor + ttl
        assert emitted() == 1

        # repeat within the TTL: consumed but dropped (the marker
        # re-armed toward its ORIGINAL deadline, not a fresh TTL)
        row.coalesce(1).write.parquet(f"{src}/slice=1")
        wait_for(lambda: inputs() >= 2)
        wait_for(lambda: len(batch_epochs()) >= 2)
        if batch_epochs()[1] >= t_anchor + ttl_sec - 2.0:
            pytest.skip(
                "box too slow: slice-1 batch landed outside the TTL window"
            )
        assert emitted() == 1

        # redelivery after the TTL: marker expired -> re-emits. The
        # deadline lives on the batch-timestamp clock; +3s margin
        # covers trigger-vs-state-function timestamp skew.
        time.sleep(max(0.0, t_anchor + ttl_sec + 3.0 - time.time()))
        row.coalesce(1).write.parquet(f"{src}/slice=2")
        wait_for(lambda: emitted() >= 2)
        assert emitted() == 2
    finally:
        q.stop()


def test_streaming_scd2_observed_frontier_gate(spark, tmp_path):
    """Late-gate vs the OBSERVED frontier (ADVICE r2): observations
    (t1,A),(t5,A) collapse to one change row at t1 — a late (t3,B)
    lands INSIDE the collapsed run and must be dropped, though it is
    newer than the change log's max ts."""
    from datetime import datetime

    from bigdataflink_spark.streaming.scd2 import (
        merge_scd2_batch,
        read_scd2_history,
    )

    def obs(rows):
        return spark.createDataFrame(
            [(7, a, datetime(2024, 1, t), s) for (t, a, s) in rows],
            "k long, attr string, ts timestamp, seq long",
        )

    state = str(tmp_path / "obs_state")
    n = merge_scd2_batch(
        spark, obs([(1, "A", 1), (5, "A", 2)]), state, "k", "attr", "ts", "seq"
    )
    assert n == 0
    hist0 = [
        (r["attr"], r["version"])
        for r in read_scd2_history(spark, state, "k", "attr").collect()
    ]
    assert hist0 == [("A", 1)]  # same-attr run collapsed

    # t3 < observed frontier t5: dropped, history unchanged
    n = merge_scd2_batch(
        spark, obs([(3, "B", 3)]), state, "k", "attr", "ts", "seq"
    )
    assert n == 1
    hist1 = [
        (r["attr"], r["version"])
        for r in read_scd2_history(spark, state, "k", "attr").collect()
    ]
    assert hist1 == [("A", 1)]

    # t6 > frontier: merged as a genuine new version
    n = merge_scd2_batch(
        spark, obs([(6, "B", 4)]), state, "k", "attr", "ts", "seq"
    )
    assert n == 0
    hist2 = sorted(
        (r["attr"], r["version"])
        for r in read_scd2_history(spark, state, "k", "attr").collect()
    )
    assert hist2 == [("A", 1), ("B", 2)]


def test_scd2_change_log_grows_by_staged_rebucket(spark, tmp_path):
    """The SCD2 change log sizes its buckets like the LWW state: it
    starts with one bucket and, as the split size drops below its
    bytes, is re-hashed to 2 and then 4 buckets. Every version row
    survives the rebucket: after every batch the history equals the
    one-shot scd2_history over all rows so far, every bucket dir is
    below N, and the metadata pins N."""
    import os
    from datetime import datetime, timedelta

    from bigdataflink_spark.operators.scd import scd2_history
    from bigdataflink_spark.streaming.scd2 import (
        merge_scd2_batch,
        read_scd2_history,
    )

    schema = "k long, attr string, ts timestamp, seq long"
    # CDC contract: every batch is later in event time than the one
    # before; keys overlap across batches and attrs repeat, so the log
    # holds several rows per key and collapses same-attr runs
    batches = [
        [
            (k, f"a{(k * 7 + i * (k % 3)) % 3}",
             datetime(2024, 1, 1) + timedelta(hours=1000 * i + k), 1000 * i + k)
            for k in range(60 * i, 60 * i + 100)
        ]
        for i in range(4)
    ]
    path = str(tmp_path / "scd2_grown")
    prev_split = spark.conf.get(_SPLIT_KEY)
    seen, observed = [], []
    try:
        for i, rows in enumerate(batches):
            if i:
                per = 1 if i == 1 else 2 * seen[-1]
                spark.conf.set(_SPLIT_KEY, str(-(-_state_bytes(spark, path) // per)))
            n_late = merge_scd2_batch(
                spark, spark.createDataFrame(rows, schema), path, "k", "attr", "ts",
                "seq",
            )
            assert n_late == 0
            n = _pinned_buckets(path)
            seen.append(n)
            observed += rows
            got = sorted(
                tuple(r) for r in read_scd2_history(spark, path, "k", "attr").collect()
            )
            want = sorted(
                tuple(r)
                for r in scd2_history(
                    spark.createDataFrame(observed, schema), "k", "attr", "ts", "seq"
                ).collect()
            )
            assert got == want
            buckets = [int(d.split("=")[1]) for d in os.listdir(path)
                       if d.startswith("_bucket=")]
            assert buckets and all(b < n for b in buckets), (n, buckets)
    finally:
        spark.conf.set(_SPLIT_KEY, prev_split)
    assert seen == [1, 1, 2, 4]
    assert not os.path.exists(path + ".compact_tmp")
    assert not os.path.exists(path + ".compact_old")


@pytest.mark.slow
def test_property_merge_and_scd2_any_slicing_converges(spark, tmp_path):
    """Property (hypothesis): for RANDOM batch slicings, orderings,
    and duplicated (redelivered) slices, the bucketed LWW MERGE state
    and the SCD2 change log both converge to the one-shot batch
    answer — the exactly-once/idempotence claim under adversarial
    delivery, not just the hand-picked slicings of the other tests."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bigdataflink_spark.operators.dedup import lww_dedup
    from bigdataflink_spark.streaming.merge import merge_lww_bucketed, read_state
    from bigdataflink_spark.streaming.scd2 import (
        merge_scd2_batch,
        read_scd2_history,
    )

    rows = [(k % 7, f"v{(k * 13) % 5}", k) for k in range(40)]
    schema = "k long, attr string, seq long"
    one_shot = sorted(
        tuple(r)
        for r in lww_dedup(
            spark.createDataFrame(rows, schema), ["k"], "seq"
        ).collect()
    )
    from datetime import datetime, timedelta

    # CDC contract: each key's observations arrive in nondecreasing
    # event time — ts must be MONOTONE in seq or drop-late kicks in
    scd_rows = [
        (k, a, datetime(2024, 1, 1) + timedelta(hours=s), s)
        for (k, a, s) in rows
    ]
    scd_schema = "k long, attr string, ts timestamp, seq long"
    from bigdataflink_spark.operators.scd import scd2_history

    scd_truth = sorted(
        tuple(r)
        for r in scd2_history(
            spark.createDataFrame(scd_rows, scd_schema), "k", "attr", "ts", "seq"
        ).collect()
    )

    case_n = [0]
    scd2_buckets = []

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        cuts=st.lists(st.integers(0, 39), min_size=0, max_size=4),
        redeliver=st.booleans(),
        data=st.data(),
    )
    def check(cuts, redeliver, data):
        case_n[0] += 1
        bounds = sorted({0, 40, *cuts})
        slices = [
            list(range(lo, hi)) for lo, hi in zip(bounds, bounds[1:]) if hi > lo
        ]
        if redeliver and slices:
            dup = data.draw(st.integers(0, len(slices) - 1))
            slices.append(slices[dup])

        mp = str(tmp_path / f"prop_merge_{case_n[0]}")
        sp = str(tmp_path / f"prop_scd2_{case_n[0]}")
        for sl in slices:
            batch = [rows[i] for i in sl]
            if not batch:
                continue
            merge_lww_bucketed(
                spark,
                spark.createDataFrame(batch, schema),
                mp,
                "k",
                seq_col="seq",
                num_buckets=4,
            )
            # CDC contract: within a delivery each key's observations
            # are time-ordered — index order IS seq order here, and a
            # redelivered slice replays old rows (idempotence path)
            merge_scd2_batch(
                spark,
                spark.createDataFrame([scd_rows[i] for i in sl], scd_schema),
                sp,
                "k",
                "attr",
                "ts",
                "seq",
            )
        scd2_buckets.append(_pinned_buckets(sp))
        got = sorted(tuple(r) for r in read_state(spark, mp).collect())
        assert got == one_shot
        hist = sorted(
            tuple(r) for r in read_scd2_history(spark, sp, "k", "attr").collect()
        )
        assert hist == scd_truth

    # a split far below the change log's bytes makes fit_state_buckets
    # grow it past one bucket, so the slicings exercise a multi-bucket log
    prev_split = spark.conf.get(_SPLIT_KEY)
    spark.conf.set(_SPLIT_KEY, "1024")
    try:
        check()
    finally:
        spark.conf.set(_SPLIT_KEY, prev_split)
    assert max(scd2_buckets) > 1, scd2_buckets


def _rollup_totals(spark, parts_dir):
    from bigdataflink_spark.streaming.rollup import read_rollup

    return sorted(map(tuple, read_rollup(spark, parts_dir).collect()))


@pytest.fixture()
def rollup_parts(spark, workdir):
    """Three batch partials over sf0.001 events, fresh per test."""
    import shutil as _sh

    from bigdataflink_spark.streaming.rollup import rollup_batch

    d = f"{workdir}/rollup_crash_parts"
    _sh.rmtree(d, ignore_errors=True)
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    for i in range(3):
        rollup_batch(ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i), i, d)
    return d


def test_rollup_compaction_crash_before_commit(spark, rollup_parts):
    """Kill between writing the merged generation and committing it:
    readers must still see the OLD complete state (the staged gen dir
    is invisible), and a rerun of compaction must converge to the same
    totals."""
    from bigdataflink_spark.streaming.rollup import (
        _write_gen_data,
        compact_rollup,
    )

    before = _rollup_totals(spark, rollup_parts)
    staged = _write_gen_data(spark, rollup_parts)  # crash here: no commit
    assert staged == (0, 2)
    assert _rollup_totals(spark, rollup_parts) == before
    compact_rollup(spark, rollup_parts)  # recovery attempt
    assert _rollup_totals(spark, rollup_parts) == before


def test_rollup_compaction_crash_before_cleanup(spark, rollup_parts):
    """Kill between the atomic commit and the deletion of superseded
    parts: readers must see the NEW state exactly once (stale batch
    dirs are ignored, never double-counted), and the lazy cleanup is
    idempotent."""
    import os

    from bigdataflink_spark.streaming.rollup import (
        _cleanup_superseded,
        _commit_gen,
        _write_gen_data,
    )

    from bigdataflink_spark.streaming.rollup import rollup_batch

    before = _rollup_totals(spark, rollup_parts)
    staged = _write_gen_data(spark, rollup_parts)
    _commit_gen(spark, rollup_parts, *staged)  # crash here: no cleanup
    # stale batch dirs still on disk, but excluded from the read
    assert any(n.startswith("batch_id=") for n in os.listdir(rollup_parts))
    assert _rollup_totals(spark, rollup_parts) == before
    _cleanup_superseded(spark, rollup_parts)
    # ONE committed generation: everything it absorbed is kept a full
    # compaction cycle as the in-flight-reader grace window (a reader
    # that planned against the pre-compaction view still resolves its
    # batch dirs) — nothing is deleted yet
    remaining = sorted(
        n for n in os.listdir(rollup_parts) if n.startswith("batch_id=")
    )
    assert remaining == ["batch_id=0", "batch_id=1", "batch_id=2"]
    assert _rollup_totals(spark, rollup_parts) == before

    # a second full cycle (empty 4th epoch, compact again) moves the
    # grace frontier: dirs strictly below gen 0's frontier are swept,
    # gen 0's own frontier dir and the new epoch stay
    ev_schema = load_table(spark, "events", "/root/testdata/sf0.001")
    rollup_batch(ev_schema.limit(0), 3, rollup_parts)
    staged2 = _write_gen_data(spark, rollup_parts)
    assert staged2 == (1, 3)
    _commit_gen(spark, rollup_parts, *staged2)
    _cleanup_superseded(spark, rollup_parts)
    remaining2 = sorted(
        n for n in os.listdir(rollup_parts) if n.startswith("batch_id=")
    )
    assert remaining2 == [f"batch_id={staged[1]}", "batch_id=3"]
    # gen 0's data dir is likewise retained one more cycle
    assert sorted(os.listdir(f"{rollup_parts}/compacted")) == [
        "gen=0",
        "gen=1",
    ]
    assert _rollup_totals(spark, rollup_parts) == before


def test_rollup_compaction_under_live_stream(spark, workdir):
    """Inter-trigger compaction: availableNow run -> compact -> resume
    from the SAME checkpoint over new files -> totals equal the
    one-shot batch window; a replayed already-compacted epoch rewrites
    its (ignored) batch dir without double-counting."""
    import shutil as _sh

    from bigdataflink_spark.operators.windows import tumbling
    from bigdataflink_spark.streaming.rollup import (
        compact_rollup,
        rollup_batch,
        run_continuous_rollup,
    )

    src = f"{workdir}/live_rollup_events"
    parts = f"{workdir}/live_rollup_parts"
    ckpt = f"{workdir}/live_rollup_ckpt"
    for d in (src, parts, ckpt):
        _sh.rmtree(d, ignore_errors=True)

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src)

    def run_stream():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run_continuous_rollup(spark, stream, parts, ckpt)

    run_stream()
    compact_rollup(spark, parts)
    mid = _rollup_totals(spark, parts)
    batch_first = sorted(
        map(tuple, tumbling(first, "10 minutes").collect())
    )
    assert mid == batch_first

    # new files arrive; resume from the same checkpoint
    second.write.mode("append").parquet(src)
    run_stream()
    want = sorted(map(tuple, tumbling(ev, "10 minutes").collect()))
    assert _rollup_totals(spark, parts) == want

    # replay of an already-compacted epoch (post-restart redelivery):
    # same batch id, same data — rewrites an ignored dir, totals fixed
    rollup_batch(first, 0, parts)
    assert _rollup_totals(spark, parts) == want

    # and compaction folds the post-resume batches into the next gen
    compact_rollup(spark, parts)
    assert _rollup_totals(spark, parts) == want


def test_state_read_snapshot_survives_lazy_union(spark, tmp_path):
    """Round-11 regression (caught by q230's oracle): two
    spark.read.parquet(dir) scans of the SAME state directory
    canonicalize as equal plans even when listed between appends, so
    exchange/subquery REUSE substitutes batch b-1's older state
    snapshot for batch b's when several batch subtrees evaluate in
    one lazy plan. read_state must pin the call-time FILE LIST so
    each snapshot is a distinct plan.

    Construction: slice 2 shares a 10-token run ONLY with slice 1 —
    under the reuse bug, slice 2's verdict is computed against slice
    1's state listing (slice 0 only) and misses it."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.streaming.substrdedup import accept_batch

    run_a = " ".join(f"a{i}" for i in range(10))
    run_b = " ".join(f"b{i}" for i in range(10))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    slices = [
        spark.createDataFrame([(0, f"{run_a} {uniq('p', 5)}")],
                              "doc_id long, text string"),
        spark.createDataFrame([(1, f"{run_b} {uniq('q', 5)}")],
                              "doc_id long, text string"),
        # doc 2 duplicates slice-1's run (NOT slice-0's)
        spark.createDataFrame([(2, f"{run_b} {uniq('r', 5)}")],
                              "doc_id long, text string"),
    ]
    state = str(tmp_path / "state")
    outs = []
    for s, batch in enumerate(slices):
        outs.append(
            accept_batch(spark, batch, state).withColumn("slice", F.lit(s))
        )
    # LAZY union evaluated once — the exact shape that triggered reuse
    u = outs[0].unionByName(outs[1]).unionByName(outs[2])
    got = {(r.slice, r.doc_id): r.dup_tokens for r in u.collect()}
    assert (2, 2) in got, "slice-2 verdict used a stale state snapshot"
    assert got[(2, 2)] == 10
    assert (0, 0) not in got and (1, 1) not in got  # first sights clean


def test_state_read_rejects_nested_data_dirs(spark, tmp_path):
    """read_state pins a FLAT top-level file list; a partitioned (or
    otherwise nested) writer would leave data in subdirectories that
    the pin silently drops — partial state is a silent reset in
    disguise, so it must fail loudly (ADVICE r11)."""
    import pytest as _pytest

    from bigdataflink_spark.streaming.statestore import read_state

    path = str(tmp_path / "state")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df.write.partitionBy("k").parquet(path)  # nested k=1/, k=2/ dirs
    with _pytest.raises(ValueError, match="subdirectories"):
        read_state(spark, path)
    # flat state still reads fine and ignores hidden/_SUCCESS entries
    flat = str(tmp_path / "flat")
    df.write.parquet(flat)
    assert read_state(spark, flat).count() == 2


def test_foreach_batch_driver_replays_failed_batch(spark, tmp_path):
    """The one foreachBatch driver (statestore.start_foreach_batch): a
    body that raises on batch 1 fails the caller and keeps batch 0's
    output; a rerun on the same checkpoint re-delivers batch 1 under
    the same id with the same rows, then delivers batch 2, and never
    delivers the committed batch 0 again."""
    import glob
    import os

    from pyspark.errors import StreamingQueryException

    from bigdataflink_spark.streaming.statestore import start_foreach_batch

    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    os.makedirs(src)
    for i in range(3):
        spark.range(10 * i, 10 * i + 10).coalesce(1).write.parquet(f"{tmp_path}/f{i}")
        (part,) = glob.glob(f"{tmp_path}/f{i}/part-*.parquet")
        dst = f"{src}/file-{i}.parquet"
        shutil.copyfile(part, dst)
        # the file source takes its backlog oldest first
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    rows = [list(range(10 * i, 10 * i + 10)) for i in range(3)]
    stream = (
        spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", 1).parquet(src)
    )
    delivered = []

    def body(fail_on):
        def _body(batch_df, batch_id):
            delivered.append((batch_id, sorted(r.id for r in batch_df.collect())))
            if batch_id == fail_on:
                raise RuntimeError("injected body failure")
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        return _body

    def written():
        return sorted((r.batch_id, r.id) for r in spark.read.parquet(out).collect())

    q = start_foreach_batch(stream, ckpt, body(fail_on=1))
    with pytest.raises(StreamingQueryException, match="injected body failure"):
        q.awaitTermination()
    assert delivered == [(0, rows[0]), (1, rows[1])]
    assert written() == [(0, v) for v in rows[0]]

    delivered.clear()
    start_foreach_batch(stream, ckpt, body(fail_on=None)).awaitTermination()
    assert delivered == [(1, rows[1]), (2, rows[2])]
    assert written() == [(b, v) for b in range(3) for v in rows[b]]
