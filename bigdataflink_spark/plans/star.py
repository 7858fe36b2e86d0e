"""Star-schema builders (SURVEY.md §2 S6, A4, J1; FIXTURES.md §2).

Rebuilds the reference's PostgreSQL star schema
(/root/reference/postgres/00_ddl_dw.sql:3-66) as a set-based Spark
plan. Where the reference does 7 per-row SQL round-trips per message
(/root/reference/flink/stream_to_star.py:287-295), we do one
declarative pass:

    raw strings → cleanse projection (cleanse_sales)
    → per-table state rows (project_star)
    → last-write-wins winner per natural key
    → renames, deterministic surrogate keys, fact left-joins dims
      (publish_star)

This module is the only place that knows the star layout: ``STAR``
holds each table's natural key, surrogate key and (state column,
published column) pairs, and every other piece is derived from it.
The batch build and the streaming pipeline differ only in where the
LWW winners come from — ``build_star`` dedups the projected rows in
one pass, ``streaming/pipeline.py`` merges each micro-batch's
``project_star`` rows into state and publishes that state — so a
stream publishes the batch star of its input prefix by construction.

Semantics ported:

* Last-write-wins upsert (``ON CONFLICT … DO UPDATE``,
  stream_to_star.py:116-121 etc.) → ``row_number() OVER
  (PARTITION BY natural_key ORDER BY arrival_seq DESC) = 1``.
* Null-gate (dim skipped when natural key NULL; stream_to_star.py:
  101-102 etc.) → ``filter(key.isNotNull())``.
* Surrogate keys (BIGSERIAL; 00_ddl_dw.sql:4 etc.) → dense
  ``row_number()`` over natural-key order. Deterministic across
  partitions and runs — ``monotonically_increasing_id`` is neither.
* FK resolution via upsert RETURNING (stream_to_star.py:121-125) →
  left equi-joins on natural keys (AQE-sized: broadcast while the
  dim fits, shuffle-hash beyond).

Scale notes: each dim dedup is one shuffle on its natural key — the
minimum possible. Surrogate-key assignment via a global-order
row_number is a single-partition sort of the *deduped dim* (small by
definition: dims are bounded by key cardinality, not fact volume); at
extreme dim cardinality swap in zipWithIndex-style two-phase
numbering. The fact build joins all six dims unhinted: AQE
broadcasts each dim while it fits (keeping the 100-TB fact side
shuffle-free), and degrades to a shuffle join per oversized dim
instead of OOMing the executors on a forced build side.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataflink_spark.functions import cleanse as C
from bigdataflink_spark.operators.dedup import lww_dedup


class StarTable(NamedTuple):
    key: str  # natural key: the LWW key, and the fact's join column
    surrogate: str  # published dense surrogate key
    attrs: tuple[tuple[str, str], ...]  # (state column, published column)


# The star layout, written down once. A table's state rows — the
# streaming projection, the merged state and the DBAPI tables — are
# (arrival_seq, key, *state columns); see ``state_columns``. That
# order is the schema pinned in existing streaming state: never reorder.
STAR: dict[str, StarTable] = {
    "dim_customer": StarTable("source_customer_id", "customer_key", (
        ("customer_name", "customer_name"), ("customer_country", "country"),
        ("customer_age", "age"), ("customer_email", "email"),
    )),
    "dim_seller": StarTable("source_seller_id", "seller_key", (
        ("seller_name", "seller_name"), ("seller_country", "country"),
        ("seller_email", "email"),
    )),
    "dim_product": StarTable("source_product_id", "product_key", (
        ("product_name", "product_name"), ("product_category", "category"),
        ("product_price", "price"), ("product_rating", "rating"),
        ("product_reviews", "reviews"),
    )),
    "dim_store": StarTable("store_name", "store_key", (
        ("store_city", "city"), ("store_country", "country"), ("store_email", "email"),
    )),
    "dim_supplier": StarTable("supplier_name", "supplier_key", (
        ("supplier_country", "country"), ("supplier_email", "email"),
    )),
    # year/month/day derive from the key at publish (DATE_PARTS)
    "dim_date": StarTable("sale_date", "date_key", ()),
    # the fact also carries every dim's natural key, which publishing
    # resolves to that dim's surrogate key
    "fact_sales": StarTable("source_sale_id", "fact_key", (
        ("sale_quantity", "sale_quantity"), ("sale_total_price", "sale_total_price"),
    )),
}
FACT = "fact_sales"
DIMS = [t for t in STAR if t != FACT]
DATE_PARTS = {"year": F.year, "month": F.month, "day": F.dayofmonth}


def state_columns(table: str) -> list[str]:
    """``table``'s state row: arrival_seq, natural key, attribute state
    columns — for the fact, then each dim's natural key."""
    t = STAR[table]
    cols = ["arrival_seq", t.key, *(s for s, _ in t.attrs)]
    if table == FACT:
        cols += [STAR[d].key for d in DIMS]
    return cols


def cleanse_sales(raw: DataFrame) -> DataFrame:
    """50-col string row → typed, cleansed columns for all dims + fact.

    Mirrors the field mapping in stream_to_star.py:99-282, one
    projection instead of six per-row functions. ``arrival_seq`` must
    already be present (sources/csv_sales.py) — it is the
    conflict-resolution order.

    The reference probes several candidate field names per id
    (stream_to_star.py:100,128,154,248); we coalesce over whichever
    candidates actually exist in the input schema.
    """

    def probe(*candidates: str):
        present = [c for c in candidates if c in raw.columns]
        if not present:
            return F.lit(None).cast("string")
        return C.coalesce_first(*present)

    return raw.select(
        F.col("arrival_seq"),
        # fact natural key + measures (stream_to_star.py:248-253)
        C.to_int_safe(probe("id", "sale_id")).alias("source_sale_id"),
        C.default_zero(C.to_int_safe("sale_quantity")).cast("int").alias("sale_quantity"),
        C.default_zero(C.to_float_safe("sale_total_price"))
        .cast("decimal(14,2)")
        .alias("sale_total_price"),
        # customer (stream_to_star.py:99-110)
        C.to_int_safe(probe("sale_customer_id", "customer_id", "customer_key")).alias(
            "source_customer_id"
        ),
        C.concat_name("customer_first_name", "customer_last_name").alias("customer_name"),
        C.clean_text("customer_country").alias("customer_country"),
        C.to_int_safe("customer_age").cast("int").alias("customer_age"),
        C.clean_text("customer_email").alias("customer_email"),
        # seller (stream_to_star.py:127-136)
        C.to_int_safe(probe("sale_seller_id", "seller_id")).alias("source_seller_id"),
        C.concat_name("seller_first_name", "seller_last_name").alias("seller_name"),
        C.clean_text("seller_country").alias("seller_country"),
        C.clean_text("seller_email").alias("seller_email"),
        # product (stream_to_star.py:153-162)
        C.to_int_safe(probe("sale_product_id", "product_id")).alias("source_product_id"),
        C.clean_text("product_name").alias("product_name"),
        C.clean_text("product_category").alias("product_category"),
        C.to_float_safe("product_price").cast("decimal(12,2)").alias("product_price"),
        C.to_float_safe("product_rating").cast("decimal(3,1)").alias("product_rating"),
        C.to_int_safe("product_reviews").cast("int").alias("product_reviews"),
        # store (stream_to_star.py:181-188)
        C.clean_text("store_name").alias("store_name"),
        C.clean_text("store_city").alias("store_city"),
        C.clean_text("store_country").alias("store_country"),
        C.clean_text("store_email").alias("store_email"),
        # supplier (stream_to_star.py:205-211)
        C.clean_text("supplier_name").alias("supplier_name"),
        C.clean_text("supplier_country").alias("supplier_country"),
        C.clean_text("supplier_email").alias("supplier_email"),
        # date (stream_to_star.py:227-243)
        C.parse_date_multi("sale_date").alias("sale_date"),
    )


def project_star(cleansed: DataFrame) -> dict[str, DataFrame]:
    """Each star table's state rows out of a cleansed batch, null keys
    dropped (the reference skips a dim whose natural key is NULL:
    stream_to_star.py:101-102 etc.). Several rows per key may remain;
    the caller picks the last write."""
    return {
        t: cleansed.select(*state_columns(t)).filter(F.col(STAR[t].key).isNotNull())
        for t in STAR
    }


def _numbered(df: DataFrame, t: StarTable) -> DataFrame:
    """Dense deterministic surrogate key: row_number over key order."""
    return df.withColumn(t.surrogate, F.row_number().over(Window.orderBy(t.key)).cast("long"))


def publish_star(latest: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """State rows holding one LWW winner per key → the published star:
    attributes renamed, dim_date's parts derived, surrogate keys
    numbered, fact FKs resolved.

    The dims derive from the same sales feed, so they scale with the
    data — no forced broadcast: AQE broadcasts them while they fit
    (every micro-batch, and small backfills) and shuffles on the
    natural key at 100-TB backfill scale where a forced build side
    would OOM the executors.

    LEFT joins — a fact row with an unresolvable dim keeps a NULL FK
    (the reference leaves the fact column NULL too when the dim id is
    NULL: stream_to_star.py:287-294 pass None keys through).
    """
    star: dict[str, DataFrame] = {}
    for name in DIMS:
        t = STAR[name]
        cols = [F.col(t.key), *(F.col(s).alias(p) for s, p in t.attrs)]
        if name == "dim_date":
            cols += [part(t.key).alias(p) for p, part in DATE_PARTS.items()]
        star[name] = _numbered(latest[name].select(*cols), t)

    fact = latest[FACT]
    for name in DIMS:
        t = STAR[name]
        fact = fact.join(star[name].select(t.key, t.surrogate), on=t.key, how="left")
    f = STAR[FACT]
    star[FACT] = _numbered(fact, f).select(
        f.surrogate, f.key, *(STAR[d].surrogate for d in DIMS), *(p for _, p in f.attrs)
    )
    return star


def build_star(raw: DataFrame) -> dict[str, DataFrame]:
    """Full pipeline: raw strings → {6 dims + fact_sales}."""
    projected = project_star(cleanse_sales(raw))
    return publish_star(
        {t: lww_dedup(rows, [STAR[t].key], "arrival_seq") for t, rows in projected.items()}
    )


def persist_star(star: dict[str, DataFrame], out_dir: str) -> None:
    """Write the warehouse to parquet: dims plain, the fact Hive-
    partitioned by sale year/month.

    Directory-level partition pruning is the Spark analog of the
    reference's three fact B-tree indexes
    (postgres/00_ddl_dw.sql:68-70): a date-ranged scan touches only
    the matching ``year=/month=`` directories, and parquet min/max
    stats prune inside them. At 100 TB the fact is additionally
    bucketed on the hot FK (``saveAsTable`` + ``bucketBy``) so
    fact⋈dim repartitions nothing; partitioning alone already keeps
    date-sliced scans proportional to the slice.
    """
    fact = star["fact_sales"]
    dd = star["dim_date"].select("date_key", "year", "month")
    fact_p = fact.join(F.broadcast(dd), on="date_key", how="left").withColumn(
        "year", F.coalesce(F.col("year"), F.lit(-1))
    ).withColumn("month", F.coalesce(F.col("month"), F.lit(-1)))
    fact_p.write.mode("overwrite").partitionBy("year", "month").parquet(
        f"{out_dir}/fact_sales"
    )
    for name, df in star.items():
        if name != "fact_sales":
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def load_star(spark, out_dir: str) -> dict[str, DataFrame]:
    """Read a persisted warehouse back (partition columns included)."""
    return {n: spark.read.parquet(f"{out_dir}/{n}") for n in STAR}
