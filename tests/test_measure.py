"""The timing core (bigdataflink_spark/measure.py) and the query sets
derived from the registry in plans/queries.py."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from bigdataflink_spark import measure


def test_noop_consumption_evaluates_what_count_prunes(spark):
    """count() prunes a projected column nobody reads, so a query whose
    cost is its output columns times as almost free under count(); the
    noop write evaluates every column of every row."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def traced(x):
        calls.add(1)
        return x

    df = spark.range(10).select(traced("id").alias("y"))
    measure.consume(df, "count")
    assert calls.value == 0
    measure.consume(df, "noop")
    assert calls.value == 10


def test_best_of_is_the_minimum_over_exactly_reps_calls(monkeypatch):
    clock = [0.0]
    durations = iter([3.0, 1.0, 2.0, 5.0])
    calls = []

    def run():
        calls.append(None)
        clock[0] += next(durations)

    monkeypatch.setattr(measure.time, "perf_counter", lambda: clock[0])
    assert measure.best_of(run, 3) == 1.0
    assert len(calls) == 3


def test_r1_set_within_headline_within_queries():
    """bench.py sums the r1 set out of the headline timings and times
    every headline query by name."""
    import bench
    from bigdataflink_spark.plans.queries import QUERIES

    assert set(bench.R1_SET) <= set(bench.HEADLINE) <= set(QUERIES)


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    from bigdataflink_spark.plans.oracles import ORACLES
    from bigdataflink_spark.plans.queries import QUERIES

    assert set(QUERIES) == set(ORACLES)


def test_r1_set_is_the_suite_bench_r01_recorded():
    """The r1 subtotal is the continuity metric: it must sum the same
    queries, in the same order, as BENCH_r01.json."""
    import bench

    r01 = json.loads((Path(__file__).parents[1] / "BENCH_r01.json").read_text())
    assert bench.R1_SET == list(r01["parsed"]["queries"])
