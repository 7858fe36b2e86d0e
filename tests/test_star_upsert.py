"""The star upsert (``streaming/pipeline.py::upsert_star_batch``) on a
generated reference-quirk corpus — runs without the reference CSVs.

The corpus comes from ``starbench.corpus.write_csv_corpus``: reference
file names (spaces included), ids restarting at 1 in every file and
customer/seller/product ids shared across files, so later files update
rows that earlier files created.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from bigdataflink_spark.plans import build_star, cleanse_sales
from bigdataflink_spark.sources import read_sales_csv
from bigdataflink_spark.sources.producer import produce_jsonl
from bigdataflink_spark.streaming import merge
from bigdataflink_spark.streaming.pipeline import (
    finalize_star,
    run_stream_to_star,
    upsert_star_batch,
)
from starbench.corpus import write_csv_corpus

N_FILES = 3
ROWS_PER_FILE = 200


@pytest.fixture(scope="module")
def corpus_glob(tmp_path_factory):
    d = tmp_path_factory.mktemp("star_corpus")
    write_csv_corpus(str(d), seed=7, n_files=N_FILES, rows_per_file=ROWS_PER_FILE,
                     n_entities=100)
    return os.path.join(str(d), "*.csv")


@pytest.fixture(scope="module")
def file_batches(spark, corpus_glob):
    """One materialized batch of cleansed rows per CSV file, in
    producer send order, carrying the producer's global
    ``arrival_seq``."""
    raw = read_sales_csv(spark, corpus_glob)
    rank = F.shiftright("arrival_seq", 32)
    return [cleanse_sales(raw.filter(rank == k)).localCheckpoint() for k in range(N_FILES)]


def star_rows(star):
    return {
        name: {tuple(r) for r in df.select(*sorted(df.columns)).collect()}
        for name, df in star.items()
    }


def test_stream_batch_parity_on_generated_corpus(spark, corpus_glob, tmp_path):
    """One file per trigger through the stream must publish the same
    star as the one-shot batch build over all files."""
    landing = str(tmp_path / "landing")
    assert produce_jsonl(spark, landing, corpus_glob) == N_FILES * ROWS_PER_FILE

    stream_star = run_stream_to_star(
        spark, landing, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    batch_star = build_star(read_sales_csv(spark, corpus_glob))

    def types(df):  # nullability left out: parquet state reads back nullable
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert stream_star.keys() == batch_star.keys()
    for name in batch_star:
        assert types(stream_star[name]) == types(batch_star[name]), name
    got, want = star_rows(stream_star), star_rows(batch_star)
    for name in want:
        assert got[name] == want[name], f"{name}: stream/batch rows differ"


def test_failed_table_merge_waits_for_others_and_replays(
    spark, file_batches, tmp_path, monkeypatch
):
    """One table's merge raising must fail the batch only after the
    other six merges finished; replaying the batch over that partly
    merged state converges to the star of a run without the failure."""
    clean = str(tmp_path / "clean")
    for bid, batch in enumerate(file_batches):
        upsert_star_batch(batch, bid, clean)

    state = str(tmp_path / "state")
    upsert_star_batch(file_batches[0], 0, state)

    orig = merge.merge_lww_bucketed
    finished = []
    lock = threading.Lock()

    def flaky(spark_, incoming, path, key, seq_col="arrival_seq", num_buckets=1):
        if path.endswith("state_dim_store"):
            raise RuntimeError("injected merge failure")
        orig(spark_, incoming, path, key, seq_col, num_buckets)
        with lock:
            finished.append(os.path.basename(path))

    monkeypatch.setattr(merge, "merge_lww_bucketed", flaky)
    with pytest.raises(RuntimeError, match="injected merge failure"):
        upsert_star_batch(file_batches[1], 1, state)
    # the failing worker raised at once; the call still waited for the
    # other six before re-raising
    assert sorted(finished) == sorted(
        ["state_dim_customer", "state_dim_seller", "state_dim_product",
         "state_dim_supplier", "state_dim_date", "state_fact"]
    )
    monkeypatch.undo()

    # replay the failed batch, then the rest of the stream
    for bid in range(1, N_FILES):
        upsert_star_batch(file_batches[bid], bid, state)
    assert star_rows(finalize_star(spark, state)) == star_rows(finalize_star(spark, clean))


def plan_windows(df) -> list[tuple[list[str], list[str]]]:
    """(partition spec, order spec) of every Window in the optimized
    plan."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window":
            found.append(([e.sql() for e in seq(node.partitionSpec())],
                          [e.sql() for e in seq(node.orderSpec())]))
        stack.extend(seq(node.children()))
    return found


def test_publishing_state_runs_no_lww_window(spark, file_batches, tmp_path):
    """Merged state already holds one row per key, so publishing the
    fact must not re-run a last-write-wins window over it: the plan's
    only windows are the unpartitioned surrogate-key numberings, one
    per dim joined in and the fact's own ``fact_key``."""
    state = str(tmp_path / "state")
    for bid, batch in enumerate(file_batches):
        upsert_star_batch(batch, bid, state)

    windows = plan_windows(finalize_star(spark, state)["fact_sales"])
    assert not [w for w in windows if any("source_sale_id" in p for p in w[0])], windows
    assert all(not partition for partition, _ in windows), windows
    assert sum(any("source_sale_id" in o for o in order) for _, order in windows) == 1


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def drain_status_events(sc, name: str) -> None:
    """Run one job in its own group and wait until the status tracker
    lists it: the listener bus is FIFO, so every job submitted before
    it is visible too."""
    group = f"star-upsert-sentinel-{name}"
    sc.setJobGroup(group, "sentinel")
    try:
        sc.parallelize([0], 1).count()
    finally:
        clear_job_group(sc)
    tracker = sc.statusTracker()
    for _ in range(600):
        if tracker.getJobIdsForGroup(group):
            return
        threading.Event().wait(0.05)
    pytest.fail("status tracker never listed the sentinel job")


def test_merge_workers_run_in_the_callers_job_group(
    spark, file_batches, tmp_path, monkeypatch
):
    """Every job of the concurrent merges carries the calling thread's
    job group — the property streaming uses to tie jobs to their
    trigger and to cancel them when the query stops."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "star-upsert-workers"

    orig = merge.merge_lww_bucketed
    seen = []
    lock = threading.Lock()

    def recording(spark_, incoming, path, key, seq_col="arrival_seq", num_buckets=1):
        with lock:
            seen.append((threading.get_ident(), sc.getLocalProperty("spark.jobGroup.id")))
        orig(spark_, incoming, path, key, seq_col, num_buckets)

    monkeypatch.setattr(merge, "merge_lww_bucketed", recording)
    drain_status_events(sc, "before")
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "concurrent star merges")
    try:
        upsert_star_batch(file_batches[0], 0, str(tmp_path / "state"))
    finally:
        clear_job_group(sc)
    drain_status_events(sc, "after")

    assert len(seen) == 7
    assert {g for _, g in seen} == {group}
    assert threading.get_ident() not in {t for t, _ in seen}
    grouped = set(tracker.getJobIdsForGroup(group))
    assert len(grouped) >= 7  # at least one job per table merge
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def test_trigger_runs_one_job_per_star_table(spark, file_batches, tmp_path):
    """A trigger into one-bucket states runs 1 + 7 single-stage jobs:
    one checkpoint of the batch, then one write per star table, with no
    merge checkpoint, dirty-bucket collect or shuffle-map job. The
    first trigger creates the states, the second merges into them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    state = str(tmp_path / "state")
    for bid, batch in enumerate(file_batches[:2]):
        group = f"star-upsert-jobs-{bid}"
        sc.setJobGroup(group, "one trigger")
        try:
            upsert_star_batch(batch, bid, state)
        finally:
            clear_job_group(sc)
        drain_status_events(sc, f"jobs-{bid}")
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == 8, (bid, len(jobs))
        assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1] * 8, bid
