"""The one timing core: every benchmark and probe times through it.

bench.py, tools/bench_some.py, tools/core_scaling_probe.py,
tools/scale_probe.py and tools/snapshot_log_probe.py compose these
four functions; none keeps a timing loop of its own.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Absorb one-off costs before anything is timed: one q02 run
    (JVM, codegen, parquet footer caches), then a pre-import pass over
    the whole Python worker pool. The first codec-family Arrow stage
    otherwise pays n_workers × ~0.7 s importing the heavy operator
    modules (operators/multimodal is 5 kLoC) inside each forked
    worker, which on a loaded host can survive into the later reps of
    a best-of-N and masquerade as a plan regression (q212: 3.75-7.34 s
    recorded vs 1.05 s warm). One pass with more tasks than workers
    pre-imports everything in the pool; workers are reused afterwards
    (spark.python.worker.reuse)."""
    from bigdataflink_spark.plans.queries import QUERIES

    QUERIES["q02_revenue_by_region"](spark, sf_dir).count()
    n_warm = spark.sparkContext.defaultParallelism * 4

    def _preimport(it):
        import bigdataflink_spark.operators.jpeg_arith  # noqa: F401
        import bigdataflink_spark.operators.multimodal  # noqa: F401
        import bigdataflink_spark.operators.zstd  # noqa: F401

        yield from it

    spark.range(n_warm, numPartitions=n_warm).mapInPandas(
        _preimport, "id long"
    ).count()


def mini_calib(spark: SparkSession) -> float:
    """Host speed right now, in seconds per 200M-row calib unit.

    A JVM GC first: accumulated heap from 100+ queries in one shared
    JVM otherwise inflates late-suite timings up to ×8 (q212 measured
    5.5 s in-suite vs 0.66 s with GC'd runs of the same prefix). Then
    the best of 3 runs of a fixed 25M-row pure-JVM aggregation (~0.1 s),
    scaled by 8 to the unit of bench.py's run-level 200M-row
    ``calib_sec``. The host's speed swings ±2.5× within one run, so a
    time divided by the calib taken just before it is the number
    comparable across runs and rounds."""
    spark._jvm.System.gc()
    return best_of(
        lambda: spark.range(25_000_000).selectExpr("sum(id * 3 % 7)").collect(), 3
    ) * 8.0


def best_of(run: Callable[[], object], reps: int) -> float:
    """Fastest wall time in seconds of ``reps`` calls of ``run``: the
    minimum is the only number a scheduler hiccup or a GC pause in one
    rep cannot inflate."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return best


def consume(df: DataFrame, how: str) -> None:
    """Evaluate ``df``: ``"count"`` counts its rows, ``"noop"`` writes
    every column to the noop sink. ``count()`` lets the optimizer prune
    the projected columns and drop provably 1:1 joins, so for a query
    whose cost is its output columns (q231's repaired text, q233's id
    flattening) only ``"noop"`` measures the delivered result."""
    if how == "count":
        df.count()
    elif how == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        raise ValueError(f"consume: unknown mode {how!r} (count | noop)")
