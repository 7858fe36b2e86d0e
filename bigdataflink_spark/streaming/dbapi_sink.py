"""DBAPI upsert sink — the reference's literal terminal store
(Postgres via psycopg2 ``ON CONFLICT … DO UPDATE``,
/root/reference/flink/stream_to_star.py:84-94,116-121), re-expressed
for Spark's execution model.

The reference upserts row-at-a-time from a single consumer. Here the
sink is a ``foreachPartition`` writer: one connection per partition
(reused across that partition's rows), batched ``executemany``
upserts, and — crucially — a sequence guard in the conflict clause::

    ON CONFLICT (key) DO UPDATE SET …
    WHERE excluded.arrival_seq >= table.arrival_seq

so the write is ORDER-INDEPENDENT and IDEMPOTENT: concurrent
partitions, replayed micro-batches, and at-least-once redelivery all
converge to the same last-write-wins winners the reference gets from
its single-threaded consumer + unique indexes. Without the guard, a
distributed writer would race.

Works against any PEP 249 driver whose SQL dialect supports
``INSERT … ON CONFLICT`` (Postgres ≥9.5: placeholder ``%s``;
sqlite ≥3.24 / DuckDB: placeholder ``?``). The connection factory is
a plain callable serialized to executors, so credentials/DSN wiring
stays caller-side — mirror of the reference's ``psycopg2.connect``
kwargs (stream_to_star.py:84-91).

At 100 TB this sink is for the *serving* store (dims + aggregates),
not the raw fact firehose — cap writer parallelism with
``num_partitions`` so the database sees a bounded connection count,
exactly like ``spark.write.jdbc(numPartitions=…)``.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame


# Reference star DDL (sqlite dialect) for upsert_star_batch_dbapi —
# the sink's table contract in executable form (the reference
# bootstraps the same layout via 00_ddl_dw.sql; natural key PRIMARY
# KEY + attrs + arrival_seq: the state columns of plans/star.py's
# layout, ``state_columns``).
STAR_DDL_SQLITE = """
CREATE TABLE dim_customer (source_customer_id INTEGER PRIMARY KEY,
  customer_name TEXT, customer_country TEXT, customer_age INTEGER,
  customer_email TEXT, arrival_seq INTEGER);
CREATE TABLE dim_seller (source_seller_id INTEGER PRIMARY KEY,
  seller_name TEXT, seller_country TEXT, seller_email TEXT, arrival_seq INTEGER);
CREATE TABLE dim_product (source_product_id INTEGER PRIMARY KEY,
  product_name TEXT, product_category TEXT, product_price REAL,
  product_rating REAL, product_reviews INTEGER, arrival_seq INTEGER);
CREATE TABLE dim_store (store_name TEXT PRIMARY KEY,
  store_city TEXT, store_country TEXT, store_email TEXT, arrival_seq INTEGER);
CREATE TABLE dim_supplier (supplier_name TEXT PRIMARY KEY,
  supplier_country TEXT, supplier_email TEXT, arrival_seq INTEGER);
CREATE TABLE dim_date (sale_date TEXT PRIMARY KEY, arrival_seq INTEGER);
CREATE TABLE fact_sales_raw (source_sale_id INTEGER PRIMARY KEY,
  arrival_seq INTEGER, sale_quantity INTEGER, sale_total_price REAL,
  source_customer_id INTEGER, source_seller_id INTEGER,
  source_product_id INTEGER, store_name TEXT, supplier_name TEXT,
  sale_date TEXT);
"""


def make_upsert_sql(
    table: str,
    cols: list[str],
    key_cols: list[str],
    seq_col: str | None = None,
    placeholder: str = "?",
) -> str:
    """INSERT … ON CONFLICT upsert statement with an optional
    monotonicity guard on ``seq_col`` (LWW across replays/partitions).
    """
    collist = ", ".join(cols)
    params = ", ".join([placeholder] * len(cols))
    keylist = ", ".join(key_cols)
    updates = ", ".join(f"{c} = excluded.{c}" for c in cols if c not in key_cols)
    if not updates:
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({params}) "
            f"ON CONFLICT ({keylist}) DO NOTHING"
        )
    sql = (
        f"INSERT INTO {table} ({collist}) VALUES ({params}) "
        f"ON CONFLICT ({keylist}) DO UPDATE SET {updates}"
    )
    if seq_col is not None:
        sql += f" WHERE excluded.{seq_col} >= {table}.{seq_col}"
    return sql


def _to_dbapi_value(v: Any) -> Any:
    """Normalize Spark-row values to portable DBAPI parameters:
    dates/timestamps as ISO text (driver-adapter-independent),
    decimals as str (exact; the column's SQL type re-interprets)."""
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return v


def _write_partition(
    rows: Iterator,
    connection_factory: Callable[[], Any],
    sql: str,
    cols: list[str],
    batch_size: int,
) -> None:
    con = connection_factory()
    try:
        cur = con.cursor()
        buf: list[tuple] = []
        for row in rows:
            d = row.asDict()
            buf.append(tuple(_to_dbapi_value(d[c]) for c in cols))
            if len(buf) >= batch_size:
                cur.executemany(sql, buf)
                con.commit()
                buf.clear()
        if buf:
            cur.executemany(sql, buf)
            con.commit()
    finally:
        con.close()


def dbapi_upsert(
    df: DataFrame,
    connection_factory: Callable[[], Any],
    table: str,
    key_cols: list[str],
    seq_col: str | None = "arrival_seq",
    placeholder: str = "?",
    batch_size: int = 1000,
    num_partitions: int | None = None,
) -> None:
    """Upsert every row of ``df`` into ``table`` (see module doc).

    ``num_partitions`` bounds concurrent connections (coalesce — no
    extra shuffle). The statement is built once on the driver; each
    partition opens ONE connection and streams batched executemany.
    """
    cols = df.columns
    sql = make_upsert_sql(table, cols, key_cols, seq_col, placeholder)
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    df.foreachPartition(
        lambda rows: _write_partition(rows, connection_factory, sql, cols, batch_size)
    )


def upsert_star_batch_dbapi(
    batch: DataFrame,
    batch_id: int,
    connection_factory: Callable[[], Any],
    placeholder: str = "?",
    num_partitions: int | None = 4,
) -> None:
    """foreachBatch body: the reference's exact terminal behavior —
    upsert the six dims + fact into relational tables keyed on their
    natural keys (stream_to_star.py:287-295), but set-based: one
    intra-batch LWW dedup, then batched seq-guarded upserts. ``batch``
    holds cleansed rows, the same input as
    ``pipeline.upsert_star_batch``.

    Table layout is ``plans/star.state_columns``: each ``dim_*`` table
    carries (natural key PRIMARY KEY, attrs…, arrival_seq);
    ``fact_sales_raw`` carries the fact's state columns with
    source_sale_id as the PRIMARY KEY. DDL is the caller's job (the
    reference bootstraps its schema the same way: 00_ddl_dw.sql).
    """
    from bigdataflink_spark.operators.dedup import lww_dedup
    from bigdataflink_spark.plans.star import FACT, STAR, project_star

    for name, rows in project_star(batch.localCheckpoint(eager=True)).items():
        key = STAR[name].key
        dbapi_upsert(
            lww_dedup(rows, [key], "arrival_seq"), connection_factory,
            "fact_sales_raw" if name == FACT else name, [key],
            placeholder=placeholder, num_partitions=num_partitions,
        )
