"""The plain-Python expected star agrees with the batch star builder."""

from __future__ import annotations

import os
from decimal import Decimal

from starbench import corpus
from starbench.expected import TABLES, cleanse, compare, star_of
from starbench.run import OBSERVED_FACT_SQL


def test_cleanse_follows_the_reference_coercions():
    got = cleanse({"id": "4.9", "sale_quantity": None, "sale_total_price": "12.345",
                   "store_name": "  S 1 ", "customer_first_name": None,
                   "customer_last_name": "Lee", "sale_customer_id": "7",
                   "sale_date": "5/14/2021"})
    key, (qty, total, *_rest) = got["fact_sales"]
    assert (key, qty, total) == (4, 0, Decimal("12.35"))
    assert got["dim_store"][0] == "S 1"
    assert got["dim_customer"] == (7, ("Lee", None, None, None))
    assert got["dim_date"][1] == (2021, 5, 14)


def test_last_write_wins_by_arrival_order():
    base = {"id": "1", "sale_customer_id": "1", "customer_first_name": "A"}
    exp = star_of([base, {**base, "customer_first_name": "B"}])
    assert exp.rows["dim_customer"][1][0] == "B"
    assert exp.winner["dim_customer"][1] == 1


def test_expected_star_matches_build_star(spark, tmp_path):
    from bigdataflink_spark.plans import build_star
    from bigdataflink_spark.sources import read_sales_csv

    files = corpus.write_csv_corpus(str(tmp_path), seed=11, n_files=3,
                                    rows_per_file=40, n_entities=25)
    exp = star_of(row for rows in files for row in rows)
    star = build_star(read_sales_csv(spark, os.path.join(str(tmp_path), "MOCK_DATA*.csv")))
    for name, df in star.items():
        df.createOrReplaceTempView(name)
    observed = {}
    for t, (key, attrs) in TABLES.items():
        sql = OBSERVED_FACT_SQL if t == "fact_sales" else \
            f"SELECT {key}, {', '.join(attrs)} FROM {t}"
        observed[t] = {r[0]: tuple(r[1:]) for r in spark.sql(sql).collect()}
    assert {t: len(v) for t, v in observed.items()} == exp.counts()
    assert compare(exp, observed) == 0
    # a wrong value is caught and blamed on one message
    some_key = next(iter(observed["dim_store"]))
    observed["dim_store"][some_key] = ("nowhere", None, None)
    assert compare(exp, observed) == 1
