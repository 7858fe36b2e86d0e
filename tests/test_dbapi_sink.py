"""DBAPI upsert sink: the reference's Postgres terminal store
(psycopg2 ON CONFLICT upserts, stream_to_star.py:84-94,116-121)
re-expressed as a foreachPartition batched writer, tested against
sqlite (same ON CONFLICT dialect family, stdlib — no server needed).

The end-to-end tests stream a corpus (the full sales corpus, and a
small generated one with several writes per key) through BOTH terminal
sinks — bucketed-parquet MERGE state and the DBAPI star — and assert
they hold identical winners."""

from __future__ import annotations

import os
import shutil
import sqlite3
import tempfile

import pytest

from bigdataflink_spark.streaming.dbapi_sink import (
    dbapi_upsert,
    make_upsert_sql,
    upsert_star_batch_dbapi,
)


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="dbapi_sink_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _factory(db_path: str):
    def connect():
        con = sqlite3.connect(db_path, timeout=60)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA busy_timeout=60000")
        return con

    return connect


def test_seq_guard_makes_upserts_order_independent(spark, workdir):
    """Applying (new then old) must equal (old then new): the WHERE
    excluded.seq >= seq guard is what makes a distributed/replayed
    writer safe where the reference relies on single-consumer order."""
    db = f"{workdir}/guard.db"
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, arrival_seq INTEGER)")
    con.commit()
    con.close()

    fac = _factory(db)
    newer = spark.createDataFrame([(1, "new", 10)], "k long, v string, arrival_seq long")
    older = spark.createDataFrame([(1, "old", 5)], "k long, v string, arrival_seq long")
    dbapi_upsert(newer, fac, "t", ["k"], num_partitions=1)
    dbapi_upsert(older, fac, "t", ["k"], num_partitions=1)  # must NOT regress

    got = sqlite3.connect(db).execute("SELECT k, v, arrival_seq FROM t").fetchall()
    assert got == [(1, "new", 10)]

    # replay the newer batch: idempotent, still one row
    dbapi_upsert(newer, fac, "t", ["k"], num_partitions=1)
    got = sqlite3.connect(db).execute("SELECT k, v, arrival_seq FROM t").fetchall()
    assert got == [(1, "new", 10)]


def test_make_upsert_sql_shapes():
    sql = make_upsert_sql("d", ["k", "a", "arrival_seq"], ["k"], "arrival_seq", "%s")
    assert "ON CONFLICT (k) DO UPDATE SET" in sql
    assert "WHERE excluded.arrival_seq >= d.arrival_seq" in sql
    assert "%s, %s, %s" in sql
    # all-key table degrades to DO NOTHING
    assert make_upsert_sql("d", ["k"], ["k"]).endswith("DO NOTHING")


from bigdataflink_spark.streaming.dbapi_sink import STAR_DDL_SQLITE as _DDL


def _sqlite_tables() -> dict[str, tuple[str, list[str]]]:
    """sqlite table -> (state dir, state columns), from the one star
    layout in plans/star.py."""
    from bigdataflink_spark.plans.star import FACT, STAR, state_columns

    return {
        ("fact_sales_raw" if t == FACT else t):
        ("state_fact" if t == FACT else f"state_{t}", state_columns(t))
        for t in STAR
    }


def test_star_ddl_matches_star_layout():
    """The sink's DDL declares exactly the state columns of every star
    table, natural key as PRIMARY KEY."""
    from bigdataflink_spark.plans.star import FACT, STAR

    con = sqlite3.connect(":memory:")
    con.executescript(_DDL)
    for table, (_, cols) in _sqlite_tables().items():
        info = con.execute(f"PRAGMA table_info({table})").fetchall()
        assert sorted(r[1] for r in info) == sorted(cols), table
        key = STAR[FACT if table == "fact_sales_raw" else table].key
        assert [r[1] for r in info if r[5]] == [key], table
    con.close()


def _stream_both_sinks_and_compare(spark, workdir: str, landing: str, tag: str) -> None:
    """Stream the landing dir through the bucketed-parquet MERGE state
    and the DBAPI star at once; every table must hold exactly the
    winners the state holds (same LWW semantics, different terminal
    store)."""
    from bigdataflink_spark.streaming.merge import read_state
    from bigdataflink_spark.streaming.pipeline import read_sales_stream, upsert_star_batch

    db = f"{workdir}/{tag}_star.db"
    con = sqlite3.connect(db)
    con.executescript(_DDL)
    con.commit()
    con.close()
    fac = _factory(db)

    state_dir = f"{workdir}/{tag}_state"
    records, _ = read_sales_stream(spark, landing, max_files_per_trigger=5)

    def both_sinks(b, bid):
        upsert_star_batch(b, bid, state_dir)
        upsert_star_batch_dbapi(b, bid, fac, num_partitions=2)

    q = (
        records.writeStream.foreachBatch(both_sinks)
        .option("checkpointLocation", f"{workdir}/{tag}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def canon(v):
        from decimal import Decimal

        if v is None:
            return None
        if isinstance(v, (float, Decimal)):
            return f"{float(v):.9g}"  # Decimal('73.30') ≡ REAL 73.3
        return str(v)

    con = sqlite3.connect(db)
    for table, (state_name, cols) in _sqlite_tables().items():
        want = sorted(
            tuple(canon(v) for v in r)
            for r in read_state(spark, os.path.join(state_dir, state_name))
            .select(*cols)
            .collect()
        )
        got = sorted(
            tuple(canon(v) for v in r)
            for r in con.execute(f"SELECT {', '.join(cols)} FROM {table}").fetchall()
        )
        assert want, f"{table}: no state rows"
        assert len(got) == len(want), f"{table}: {len(got)} vs {len(want)} rows"
        assert got == want, f"{table}: winners differ"
    con.close()


def test_stream_to_dbapi_matches_parquet_state(spark, workdir, sales_corpus):
    """The full 10,000-row sales corpus through both terminal sinks."""
    from bigdataflink_spark.sources.producer import produce_jsonl

    landing = f"{workdir}/landing"
    assert produce_jsonl(spark, landing, sales_corpus.glob) == 10000
    _stream_both_sinks_and_compare(spark, workdir, landing, "ref")


def test_stream_to_dbapi_matches_parquet_state_on_generated_corpus(spark, workdir):
    """A generated reference-quirk corpus (ids restarting per file,
    entity ids shared across files, several writes per key within a
    trigger) through both terminal sinks — runs without the reference
    CSVs."""
    from bigdataflink_spark.sources.producer import produce_jsonl
    from starbench.corpus import write_csv_corpus

    csv_dir = f"{workdir}/gen_csv"
    write_csv_corpus(csv_dir, seed=5, n_files=6, rows_per_file=100, n_entities=60)
    landing = f"{workdir}/gen_landing"
    assert produce_jsonl(spark, landing, os.path.join(csv_dir, "*.csv")) == 600
    _stream_both_sinks_and_compare(spark, workdir, landing, "gen")
