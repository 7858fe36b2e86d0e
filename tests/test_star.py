"""End-to-end star-schema fixture on the 10 reference CSVs, or their
generated stand-in without them (SURVEY.md §5: golden cardinalities +
invariants + last-write-wins)."""

from __future__ import annotations

import csv

import pytest
from pyspark.sql import functions as F

from bigdataflink_spark.plans import build_star
from bigdataflink_spark.sources import read_sales_csv

GOLDEN_COUNTS = {
    "dim_customer": 1000,
    "dim_seller": 1000,
    "dim_product": 1000,
    "dim_store": 383,
    "dim_supplier": 383,
    "dim_date": 364,
    "fact_sales": 1000,
}


@pytest.fixture(scope="module")
def star(spark, sales_corpus):
    return build_star(read_sales_csv(spark, sales_corpus.glob))


@pytest.fixture(scope="module")
def golden_counts(sales_corpus):
    return sales_corpus.counts or GOLDEN_COUNTS


def test_golden_cardinalities(star, golden_counts):
    got = {name: df.count() for name, df in star.items()}
    assert got == golden_counts


def test_fact_uniqueness_invariant(star):
    # README.md:196-198 — COUNT(*) == COUNT(DISTINCT source_sale_id)
    fact = star["fact_sales"]
    row = fact.select(
        F.count("*").alias("n"), F.countDistinct("source_sale_id").alias("nd")
    ).collect()[0]
    assert row.n == row.nd


def test_referential_integrity_zero_missing(star):
    # README.md:202-219 — all six FK columns fully resolved
    fact = star["fact_sales"]
    keys = ["customer_key", "seller_key", "product_key", "store_key", "supplier_key", "date_key"]
    row = fact.select(
        *[F.sum(F.when(F.col(k).isNull(), 1).otherwise(0)).alias(k) for k in keys]
    ).collect()[0]
    assert all(row[k] == 0 for k in keys), row.asDict()


def test_last_write_wins_attributes(star, sales_corpus):
    """dim attributes must come from the LAST row (across all files in
    the producer's sorted send order) whose sale_customer_id matches —
    replicating the reference's per-row ON CONFLICT DO UPDATE."""
    import glob

    golden: dict[int, dict] = {}
    for path in sorted(glob.glob(sales_corpus.glob)):
        with open(path, encoding="utf-8-sig", newline="") as f:
            for r in csv.DictReader(f):
                try:
                    key = int(float(r["sale_customer_id"]))
                except (TypeError, ValueError):
                    continue
                golden[key] = r

    sample = star["dim_customer"].filter(F.col("source_customer_id").isin(1, 500, 1000)).collect()
    assert len(sample) == 3
    for row in sample:
        src = golden[row.source_customer_id]
        expected_name = f"{src['customer_first_name']} {src['customer_last_name']}".strip() or None
        assert row.customer_name == expected_name
        assert row.country == (src["customer_country"].strip() or None)
        assert row.age == int(float(src["customer_age"]))


def test_surrogate_keys_dense_and_deterministic(star):
    dim = star["dim_customer"]
    keys = [r.customer_key for r in dim.select("customer_key").orderBy("customer_key").collect()]
    assert keys == list(range(1, len(keys) + 1))
    # deterministic: rebuild yields identical key->natural-key mapping
    rows1 = {
        (r.customer_key, r.source_customer_id)
        for r in dim.select("customer_key", "source_customer_id").collect()
    }
    rows2 = {
        (r.customer_key, r.source_customer_id)
        for r in dim.select("customer_key", "source_customer_id").collect()
    }
    assert rows1 == rows2


def test_persist_star_partition_pruning(star, golden_counts, spark, tmp_path):
    """persist_star writes the fact Hive-partitioned by year/month;
    a month-sliced read must (a) round-trip counts and (b) prune at
    the directory level (PartitionFilters in the scan, one input
    partition directory)."""
    from bigdataflink_spark.plans.star import load_star, persist_star

    out = str(tmp_path / "dw")
    persist_star(star, out)
    back = load_star(spark, out)
    assert {n: df.count() for n, df in back.items()} == golden_counts

    fact = back["fact_sales"]
    sliced = fact.filter((F.col("year") == 2021) & (F.col("month") == 3))
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the slice only reads files under year=2021/month=3
    files = {
        r[0]
        for r in sliced.select(F.input_file_name()).distinct().collect()
    }
    assert files and all("year=2021/month=3" in f for f in files)
    # and the slice agrees with the unpartitioned star via dim_date
    dd = star["dim_date"].filter((F.col("year") == 2021) & (F.col("month") == 3))
    expected = (
        star["fact_sales"]
        .join(dd.select("date_key"), "date_key", "inner")
        .count()
    )
    assert sliced.count() == expected
