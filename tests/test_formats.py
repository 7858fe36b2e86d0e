"""Filesystem helpers (sources/formats.py) and the versioned snapshot
tables built on them (sources/snapshots.py): JSON record reads, sharded
writes, compaction and its crash recovery, commit logs."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from bigdataflink_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_read_json_joins_byte_chunks_before_decoding(spark, tmp_path):
    """read_json reads a record in 4 KB byte chunks: a record over 8 KB
    whose 4-byte characters straddle both chunk boundaries comes back
    intact, written raw as UTF-8 and through publish_json."""
    from bigdataflink_spark.sources.formats import hadoop_fs, publish_json, read_json

    body, pos = [], len('{"s": "')
    for boundary in (4096, 8192):
        body += ["é" * ((boundary - 2 - pos) // 2), "x" * ((boundary - 2 - pos) % 2), "😀"]
        pos = boundary + 2
    record = {"s": "".join(body) + "tail é😀"}
    raw = json.dumps(record, ensure_ascii=False).encode("utf-8")
    assert all(raw[b] & 0xC0 == 0x80 for b in (4096, 8192))  # mid-character

    fs, _, jvm = hadoop_fs(spark, str(tmp_path))
    Path = jvm.org.apache.hadoop.fs.Path
    out = fs.create(Path(str(tmp_path / "raw.json")), True)
    out.write(bytearray(raw))
    out.close()
    assert read_json(fs, Path(str(tmp_path / "raw.json"))) == record

    published = str(tmp_path / "published.json")
    assert publish_json(fs, jvm, str(tmp_path / "tmp.json"), published, record)
    assert read_json(fs, Path(published)) == record


def test_write_sharded_sizes_and_global_order(spark, tmp_path):
    from bigdataflink_spark.sources.formats import write_sharded

    df = load_table(spark, "orders", SF).select("o_orderkey", "o_totalprice")
    n = df.count()
    target = 400
    out = str(tmp_path / "sharded")
    write_sharded(df, out, ["o_orderkey"], target)

    import glob
    import pyarrow.parquet as pq

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= -(-n // target)
    spans = []
    for f in files:
        t = pq.read_table(f, columns=["o_orderkey"])
        assert 0 < t.num_rows <= target  # cap respected, no empty files
        keys = t.column("o_orderkey").to_pylist()
        assert keys == sorted(keys)  # sorted within file
        spans.append((min(keys), max(keys)))
    # global range order: file key spans don't interleave
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a <= lo_b
    back = spark.read.parquet(out)
    assert back.count() == n


def test_compact_dir_reduces_files_and_preserves_rows(spark, tmp_path):
    from bigdataflink_spark.sources.formats import compact_dir

    src = load_table(spark, "orders", SF).select("o_orderkey", "o_totalprice")
    out = str(tmp_path / "accreted")
    # simulate a streaming sink's accretion: 12 tiny appends
    for i in range(12):
        src.filter(F.col("o_orderkey") % 12 == i).repartition(3).write.mode(
            "append"
        ).parquet(out)
    n = src.count()
    before, after = compact_dir(spark, out, ["o_orderkey"], 2000)
    assert before >= 30 and after <= max(1, -(-n // 2000)) + 1
    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.agg(F.sum("o_totalprice")).collect()[0][0] == src.agg(
        F.sum("o_totalprice")
    ).collect()[0][0]


def test_snapshot_time_travel_and_diff(spark, tmp_path):
    """Versioned snapshot tables (sources/snapshots.py): commit log
    ordering, VERSION AS OF reads, unknown-version refusal, and a
    row-level diff classifying inserted/deleted/updated with NULL-safe
    fingerprints."""
    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "snap_table")
    v0_df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    assert sn.write_snapshot(spark, v0_df, t) == 0
    # v1: update k=2 (NULL -> ''), delete k=3, insert k=4
    v1_df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 0.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    assert sn.write_snapshot(spark, v1_df, t) == 1

    log = sn.list_versions(spark, t)
    assert [e["version"] for e in log] == [0, 1]
    assert [e["n_rows"] for e in log] == [3, 3]
    assert log[1]["parent"] == 0

    # time travel: v0 is immutable history, latest is v1
    as_of_0 = {tuple(r) for r in sn.read_snapshot(spark, t, 0).collect()}
    assert as_of_0 == {(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)}
    latest = {tuple(r) for r in sn.read_snapshot(spark, t).collect()}
    assert latest == {(1, "a", 10.0), (2, "b", 0.0), (4, "d", 40.0)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="commit log"):
        sn.read_snapshot(spark, t, 7)

    diff = {
        (r["k"], r["change"])
        for r in sn.diff_versions(spark, t, 0, 1, ["k"]).collect()
    }
    assert diff == {(2, "updated"), (3, "deleted"), (4, "inserted")}

    # NULL-safe fingerprints: NULL, '', and 'null' are all distinct
    fp = sn.row_fingerprint(
        spark.createDataFrame(
            [(1, None), (2, ""), (3, "null")], "k long, s string"
        ),
        ["k"],
    )
    assert fp.select("_fp").distinct().count() == 3


def test_snapshot_commit_log_crash_safety(spark, tmp_path):
    """A crashed writer (data written, commit record NOT yet renamed
    into place) must leave readers on the old latest with an intact
    log; the next writer reclaims the orphaned version dir. The log is
    append-only — committing a version never rewrites prior records."""
    import os

    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "crashy")
    v0 = spark.range(5).withColumnRenamed("id", "k")
    assert sn.write_snapshot(spark, v0, t) == 0
    log_before = sorted(os.listdir(f"{t}/{sn.LOG_DIR}"))

    # simulate the crash: data for v=1 lands, commit record never does
    v1 = spark.range(9).withColumnRenamed("id", "k")
    v1.write.mode("overwrite").parquet(f"{t}/v=1")
    assert [v["version"] for v in sn.list_versions(spark, t)] == [0]
    assert sn.read_snapshot(spark, t).count() == 5  # old latest intact

    # recovery: the next committed write reuses and overwrites v=1
    v1b = spark.range(7).withColumnRenamed("id", "k")
    assert sn.write_snapshot(spark, v1b, t) == 1
    assert sn.read_snapshot(spark, t, 1).count() == 7
    assert sn.read_snapshot(spark, t, 0).count() == 5
    # append-only: v0's record file is byte-identical to before
    assert sorted(os.listdir(f"{t}/{sn.LOG_DIR}"))[0] == log_before[0]


def test_snapshot_drift_expectations(spark, tmp_path):
    """check_snapshot_drift: pinned-baseline release gating with exact
    ppm arithmetic, including the degenerate zero-denominator cases."""
    from bigdataflink_spark.operators.expectations import check_snapshot_drift
    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "drifty")
    v0 = spark.createDataFrame(
        [(1, "a", "en"), (2, "a", "de"), (3, "b", None), (4, "b", "en")],
        "k long, src string, lang string",
    )
    sn.write_snapshot(spark, v0, t)
    # v1: one row dropped (-25% rows), one more NULL lang, same srcs
    v1 = spark.createDataFrame(
        [(1, "a", None), (2, "a", "de"), (3, "b", None)],
        "k long, src string, lang string",
    )
    sn.write_snapshot(spark, v1, t)
    rules = [
        {"rule": "rows", "type": "row_count_drift", "max_rel_drift_ppm": 300000},
        {"rule": "rows_tight", "type": "row_count_drift", "max_rel_drift_ppm": 200000},
        {"rule": "lang_nulls", "type": "null_rate_drift", "col": "lang", "max_drift_ppm": 500000},
        {"rule": "src_domain", "type": "distinct_count_drift", "col": "src", "max_rel_drift_ppm": 0},
    ]
    got = {
        r.rule: (r.base_value, r.cur_value, r.drift_ppm, r.passed)
        for r in check_snapshot_drift(spark, t, rules, 0).collect()
    }
    assert got["rows"] == (4, 3, 250000, True)
    assert got["rows_tight"] == (4, 3, 250000, False)
    # null rate 1/4=250000ppm -> 2/3=666666ppm: drift |2*4-1*3|*1e6//12
    assert got["lang_nulls"] == (250000, 666666, 416666, True)
    assert got["src_domain"] == (2, 2, 0, True)

    # degenerate: empty baseline passes only against an empty current
    t2 = str(tmp_path / "empty_base")
    empty = spark.createDataFrame([], "k long, src string, lang string")
    sn.write_snapshot(spark, empty, t2)
    sn.write_snapshot(spark, v1, t2)
    got2 = {
        r.rule: (r.drift_ppm, r.passed)
        for r in check_snapshot_drift(
            spark, t2, [{"rule": "rows", "type": "row_count_drift", "max_rel_drift_ppm": 0}], 0
        ).collect()
    }
    assert got2["rows"] == (None, False)


def test_snapshot_vacuum_retention_and_crash_safety(spark, tmp_path):
    """vacuum_snapshots: expired versions leave the commit log and
    disk; kept versions read back unchanged; an expired version's
    read fails the membership check; a crash between record-delete
    and dir-delete leaves an orphan the next vacuum sweeps."""
    import os

    import pytest as _pytest

    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "vac")
    for n in (3, 5, 7, 9):
        sn.write_snapshot(
            spark, spark.range(n).withColumnRenamed("id", "k"), t
        )
    audit = sn.vacuum_snapshots(spark, t, keep_last=2)
    assert audit == {"expired": [0, 1], "kept": [2, 3]}
    assert [v["version"] for v in sn.list_versions(spark, t)] == [2, 3]
    assert sn.read_snapshot(spark, t, 2).count() == 7
    assert sn.read_snapshot(spark, t).count() == 9
    with _pytest.raises(ValueError, match="commit log"):
        sn.read_snapshot(spark, t, 0)
    assert not os.path.exists(f"{t}/v=0")

    # simulated crash: record gone, data dir still present
    fs, _, jvm = sn._fs(spark, t)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{t}/{sn.LOG_DIR}/v-00000002.json"), False)
    # v=2's dir is now an orphan below the oldest kept version
    audit2 = sn.vacuum_snapshots(spark, t, keep_last=1)
    assert audit2["kept"] == [3]
    assert not os.path.exists(f"{t}/v=2")
    assert sn.read_snapshot(spark, t).count() == 9


def test_snapshot_drift_null_rate_empty_base(spark, tmp_path):
    """Review fix: null_rate_drift over an EMPTY snapshot must emit a
    real boolean (F.sum over zero rows is NULL without the coalesce),
    and a stale writer targeting a committed version must fail instead
    of overwriting committed data."""
    import pytest as _pytest

    from bigdataflink_spark.operators.expectations import check_snapshot_drift
    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "nullrate")
    empty = spark.createDataFrame([], "k long, lang string")
    sn.write_snapshot(spark, empty, t)
    v1 = spark.createDataFrame([(1, "en"), (2, None)], "k long, lang string")
    sn.write_snapshot(spark, v1, t)
    rows = {
        r.rule: (r.drift_ppm, r.passed)
        for r in check_snapshot_drift(
            spark,
            t,
            [{"rule": "lang", "type": "null_rate_drift", "col": "lang", "max_drift_ppm": 0}],
            0,
        ).collect()
    }
    # degenerate base: passes only if BOTH null counts are zero
    assert rows["lang"] == (None, False)

    with _pytest.raises(ValueError, match="empty rules"):
        check_snapshot_drift(spark, t, [], 0)

    # stale-writer guard: simulate a writer whose manifest read is
    # PERMANENTLY stale (it keeps targeting version 1, which IS
    # committed) — every claim attempt must bounce off the committed
    # record and give up without touching the committed data. (A
    # transiently stale manifest heals on the retry's re-read; the
    # permanent pin exercises the record-file check specifically.)
    before_rows = sn.read_snapshot(spark, t, 1).count()
    orig = sn._read_manifest
    try:
        stale = {
            "versions": [
                v for v in orig(spark, t)["versions"] if v["version"] == 0
            ]
        }
        sn._read_manifest = lambda sp, tb: stale
        with _pytest.raises(IOError, match="version claims"):
            sn.write_snapshot(spark, v1, t, max_attempts=3)
    finally:
        sn._read_manifest = orig
    assert sn.read_snapshot(spark, t, 1).count() == before_rows
    assert [v["version"] for v in sn.list_versions(spark, t)] == [0, 1]


def test_snapshot_log_checkpoint_fold_and_crash(spark, tmp_path):
    """checkpoint_log folds the whole tail into one ckpt file (readers
    then do one listing + one ckpt open + short-tail opens instead of
    an O(versions) per-record walk); a crash between checkpoint
    publish and tail cleanup leaves duplicates that are ignored, and
    the next checkpoint supersedes everything."""
    import os

    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "ckpt_table")
    for n in (2, 3, 4, 5):
        sn.write_snapshot(spark, spark.range(n).withColumnRenamed("id", "k"), t)
    want = [(v["version"], v["n_rows"]) for v in sn.list_versions(spark, t)]
    assert sn.checkpoint_log(spark, t) == 0

    def log_names():
        # skip '.'-prefixed CRC sidecars the local Hadoop FS writes
        return sorted(
            n for n in os.listdir(f"{t}/{sn.LOG_DIR}") if not n.startswith(".")
        )

    assert log_names() == ["ckpt-00000000.json"]  # tail fully folded
    assert [
        (v["version"], v["n_rows"]) for v in sn.list_versions(spark, t)
    ] == want
    assert sn.read_snapshot(spark, t, 1).count() == 3  # reads unchanged

    # new commits append a tail above the checkpoint
    sn.write_snapshot(spark, spark.range(9).withColumnRenamed("id", "k"), t)
    assert [v["version"] for v in sn.list_versions(spark, t)] == [0, 1, 2, 3, 4]

    # crash sim: duplicate tail record for an already-folded version —
    # the checkpoint is authoritative, the duplicate is ignored
    fs, _, jvm = sn._fs(spark, t)
    dup = jvm.org.apache.hadoop.fs.Path(f"{t}/{sn.LOG_DIR}/v-00000001.json")
    out = fs.create(dup, True)
    out.write(bytearray(b'{"version": 1, "n_rows": 999, "parent": 0}'))
    out.close()
    assert [v["n_rows"] for v in sn.list_versions(spark, t)][1] == 3
    # the next checkpoint sweeps the duplicate and the old ckpt
    assert sn.checkpoint_log(spark, t) == 1
    assert log_names() == ["ckpt-00000001.json"]
    assert [v["n_rows"] for v in sn.list_versions(spark, t)] == [2, 3, 4, 5, 9]


def test_snapshot_vacuum_through_checkpoint_and_failed_record_delete(
    spark, tmp_path
):
    """vacuum must (a) expire versions that live inside a checkpoint by
    publishing a successor checkpoint before touching data, and (b)
    NEVER delete a data dir whose commit record could not be removed —
    the 'no committed record pointing at missing data' invariant."""
    import os

    import pytest as _pytest

    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "vac_ckpt")
    for n in (2, 3, 4, 5):
        sn.write_snapshot(spark, spark.range(n).withColumnRenamed("id", "k"), t)
    sn.checkpoint_log(spark, t)
    audit = sn.vacuum_snapshots(spark, t, keep_last=2)
    assert audit == {"expired": [0, 1], "kept": [2, 3]}
    assert [v["version"] for v in sn.list_versions(spark, t)] == [2, 3]
    assert not os.path.exists(f"{t}/v=0") and not os.path.exists(f"{t}/v=1")
    assert sn.read_snapshot(spark, t, 2).count() == 4
    assert sn.read_snapshot(spark, t).count() == 5
    with _pytest.raises(ValueError, match="commit log"):
        sn.read_snapshot(spark, t, 0)
    # checkpoint still authoritative for the kept folded versions
    names = sorted(
        n for n in os.listdir(f"{t}/{sn.LOG_DIR}") if not n.startswith(".")
    )
    assert names == ["ckpt-00000001.json"]

    # failed record delete => data stays: simulate by making the
    # record undeletable via a monkeypatched fs-level delete veto
    t2 = str(tmp_path / "vac_veto")
    for n in (2, 3, 4):
        sn.write_snapshot(spark, spark.range(n).withColumnRenamed("id", "k"), t2)
    real_fs = sn._fs

    def veto_fs(sp, path):
        fs, hpath, jvm = real_fs(sp, path)

        class VetoFS:
            def __getattr__(self, name):
                return getattr(fs, name)

            def delete(self, p, recursive=False):
                if p.getName() == "v-00000000.json":
                    return False  # FS refused (permissions / error)
                return fs.delete(p, recursive)

        return VetoFS(), hpath, jvm

    sn._fs = veto_fs
    try:
        audit2 = sn.vacuum_snapshots(spark, t2, keep_last=1)
    finally:
        sn._fs = real_fs
    # v=0's record survived, so its DATA must survive with it
    assert audit2["expired"] == [1]
    assert os.path.exists(f"{t2}/v=0")
    assert sn.read_snapshot(spark, t2, 0).count() == 2
    assert not os.path.exists(f"{t2}/v=1")
    # a later unimpeded vacuum finishes the job
    audit3 = sn.vacuum_snapshots(spark, t2, keep_last=1)
    assert audit3["expired"] == [0]
    assert not os.path.exists(f"{t2}/v=0")


def test_snapshot_auto_checkpoint_keeps_log_bounded(spark, tmp_path):
    """write_snapshot folds the tail automatically once it passes
    AUTO_CHECKPOINT_TAIL — a thousand-commit table stays at one ckpt +
    a short tail instead of a thousand per-read record opens."""
    import os

    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "auto_ckpt")
    df = spark.range(3).withColumnRenamed("id", "k")
    n_commits = sn.AUTO_CHECKPOINT_TAIL + 3
    for _ in range(n_commits):
        sn.write_snapshot(spark, df, t)
    names = os.listdir(f"{t}/{sn.LOG_DIR}")
    n_tail = sum(1 for n in names if n.startswith("v-"))
    n_ckpt = sum(1 for n in names if n.startswith("ckpt-"))
    assert n_ckpt == 1 and n_tail < sn.AUTO_CHECKPOINT_TAIL
    assert [v["version"] for v in sn.list_versions(spark, t)] == list(
        range(n_commits)
    )


def test_snapshot_log_reader_retries_vanished_record(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): list-then-open in _log_state races a
    concurrent maintainer folding/deleting tail records. A reader that
    listed BEFORE the fold must not crash on the vanished file — it
    re-lists and resolves the (equivalent) post-fold state."""
    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "race_table")
    for n in (2, 3, 4):
        sn.write_snapshot(spark, spark.range(n).withColumnRenamed("id", "k"), t)
    want = [(v["version"], v["n_rows"]) for v in sn.list_versions(spark, t)]

    real_read = sn._read_json
    state = {"fired": False}

    def racing_read(fs, path):
        # first open: a "concurrent maintainer" folds the whole tail
        # into a checkpoint (deleting the listed records), then the
        # open fails the way a vanished HDFS file does
        if not state["fired"]:
            state["fired"] = True
            sn.checkpoint_log(spark, t)
            raise IOError(
                "java.io.FileNotFoundException: " + str(path) + " (race sim)"
            )
        return real_read(fs, path)

    monkeypatch.setattr(sn, "_read_json", racing_read)
    got = [(v["version"], v["n_rows"]) for v in sn.list_versions(spark, t)]
    assert got == want and state["fired"]


def test_write_snapshot_survives_failed_auto_checkpoint(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5 (low): the auto-fold after a commit is best-effort —
    a ckpt rename collision (e.g. vacuum running beside the writer)
    must NOT surface as a failed write when the commit record already
    landed."""
    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "besteffort_table")
    df = spark.range(2).withColumnRenamed("id", "k")
    for _ in range(sn.AUTO_CHECKPOINT_TAIL):
        sn.write_snapshot(spark, df, t)

    def boom(*a, **k):
        raise IOError("log checkpoint rename failed (collision sim)")

    monkeypatch.setattr(sn, "checkpoint_log", boom)
    v = sn.write_snapshot(spark, df, t)  # tail is past the threshold
    assert v == sn.AUTO_CHECKPOINT_TAIL
    assert [x["version"] for x in sn.list_versions(spark, t)] == list(
        range(sn.AUTO_CHECKPOINT_TAIL + 1)
    )


def test_snapshot_tvd_drift_rule(spark, tmp_path):
    """Round-4 task #6: TVD over DECLARED buckets. A pinned fixture
    distribution shift produces an exact, hand-computable TVD ppm;
    identical snapshots give 0; empty-vs-nonempty fails; malformed
    rules (no buckets, unsorted edges) are refusals."""
    import pytest as _pytest

    from bigdataflink_spark.operators.expectations import (
        check_snapshot_drift,
    )
    from bigdataflink_spark.sources import snapshots as sn

    t = str(tmp_path / "tvd_table")
    # v0: 4×a, 4×b, 2×null | v1: 2×a, 6×b, 2×null  (n=10 both)
    v0 = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 4 + [(None,)] * 2, "k string"
    )
    v1 = spark.createDataFrame(
        [("a",)] * 2 + [("b",)] * 6 + [(None,)] * 2, "k string"
    )
    sn.write_snapshot(spark, v0, t)
    sn.write_snapshot(spark, v1, t)
    rule = {
        "rule": "k_mix",
        "type": "tvd_drift",
        "col": "k",
        "values": ["a", "b"],
        "max_tvd_ppm": 150000,
    }
    row = check_snapshot_drift(spark, t, [rule], base_version=0).first()
    # TVD = ½(|.2−.4| + |.6−.4| + 0 + 0) = 0.2 → 200000 ppm > 150000
    assert (row["base_value"], row["cur_value"]) == (10, 10)
    assert row["drift_ppm"] == 200000 and row["passed"] is False

    # identical snapshots: zero drift, passes even at tolerance 0
    same = check_snapshot_drift(
        spark, t, [{**rule, "max_tvd_ppm": 0}], base_version=1, cur_version=1
    ).first()
    assert same["drift_ppm"] == 0 and same["passed"] is True

    # numeric edges variant, exact ppm: v0 ints 1..10 vs v1 = v0+5
    t2 = str(tmp_path / "tvd_edges")
    sn.write_snapshot(
        spark, spark.createDataFrame([(i,) for i in range(1, 11)], "x long"), t2
    )
    sn.write_snapshot(
        spark, spark.createDataFrame([(i + 5,) for i in range(1, 11)], "x long"), t2
    )
    erule = {
        "rule": "x_hist",
        "type": "tvd_drift",
        "col": "x",
        "edges": [6, 11],
        "max_tvd_ppm": 500000,
    }
    erow = check_snapshot_drift(spark, t2, [erule], base_version=0).first()
    # buckets <6 / 6..10 / >=11: v0 (5,5,0)/10, v1 (0,5,5)/10 → TVD=0.5
    assert erow["drift_ppm"] == 500000 and erow["passed"] is True

    # empty base vs non-empty cur: fail, NULL ppm
    t3 = str(tmp_path / "tvd_empty")
    sn.write_snapshot(spark, v0.filter("k = 'zzz'"), t3)
    sn.write_snapshot(spark, v0, t3)
    zrow = check_snapshot_drift(spark, t3, [rule], base_version=0).first()
    assert zrow["drift_ppm"] is None and zrow["passed"] is False

    with _pytest.raises(ValueError, match="declare buckets"):
        check_snapshot_drift(
            spark, t, [{"rule": "r", "type": "tvd_drift", "col": "k", "max_tvd_ppm": 1}], 0
        )
    with _pytest.raises(ValueError, match="strictly increasing"):
        check_snapshot_drift(
            spark, t2,
            [{"rule": "r", "type": "tvd_drift", "col": "x", "edges": [5, 5], "max_tvd_ppm": 1}],
            0,
        )


def test_compact_crash_recovery_states(spark, tmp_path):
    """ADVICE r12: compact_dir's two-rename swap has a crash window
    where the state dir exists only as '<path>.compact_old' — a naive
    missing-dir-means-empty reader would silently reset the operator.
    Exercise all three reachable crash states through
    recover_compact_crash and the read_state entry point."""
    import os
    import shutil

    from bigdataflink_spark.sources.formats import (
        compact_dir,
        recover_compact_crash,
    )
    from bigdataflink_spark.streaming.statestore import read_state

    src = load_table(spark, "orders", SF).select("o_orderkey")
    out = str(tmp_path / "state")
    for i in range(4):
        src.filter(F.col("o_orderkey") % 4 == i).write.mode(
            "append"
        ).parquet(out)
    n = src.count()

    # state 2: crash BETWEEN the renames — path missing, .compact_old
    # holds the full state. read_state must restore, not return None.
    shutil.move(out, out + ".compact_old")
    os.makedirs(out + ".compact_tmp", exist_ok=True)  # staged garbage
    assert not os.path.exists(out)
    restored = read_state(spark, out)
    assert restored is not None and restored.count() == n
    assert os.path.exists(out)
    assert not os.path.exists(out + ".compact_old")
    assert not os.path.exists(out + ".compact_tmp")

    # state 3: crash after swap-in, before cleanup — both dirs exist;
    # recovery keeps the live path and drops the stale .compact_old.
    shutil.copytree(out, out + ".compact_old")
    assert recover_compact_crash(spark, out) == "dropped_old"
    assert not os.path.exists(out + ".compact_old")
    assert read_state(spark, out).count() == n

    # state 1: crash during the staged rewrite — tmp garbage beside an
    # intact path; compact_dir's own entry recovery clears it and the
    # compaction then runs to completion.
    os.makedirs(out + ".compact_tmp", exist_ok=True)
    before, after = compact_dir(spark, out, ["o_orderkey"], 100000)
    assert not os.path.exists(out + ".compact_tmp")
    assert spark.read.parquet(out).count() == n

    # clean state: recovery is a no-op
    assert recover_compact_crash(spark, out) is None
