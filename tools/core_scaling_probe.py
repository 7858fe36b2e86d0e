#!/usr/bin/env python
"""Parallel-scaling probe (round 14, VERDICT r13 "Next round" #7):
run ONE query at the ×100 tier in THIS process's Spark session and
print a JSON line with the noop-consumed best-of-reps wall and a
mini-calib (200M-row units, as in bench.py; SCALE.md's round-14 table
recorded the raw 25M-row time, 1/8 of it). The suite-level c8/c32
bench ratio is ≈1 because sf0.1 is fixed-per-job-overhead bound; this
probe answers the real question — do the heavy DATA-BOUND paths
parallelize? — by timing them on 100× the rows at two core counts.

Usage (one process per measurement so sessions are fresh and the
core count is honest):

    SPARK_GRAFT_CPUS=8  python tools/core_scaling_probe.py q231_substring_excise
    SPARK_GRAFT_CPUS=32 python tools/core_scaling_probe.py q231_substring_excise
    SPARK_GRAFT_CPUS=32 python tools/core_scaling_probe.py q237_curated_corpus domain

The optional second arg selects the DOMAIN-preserving ×100 corpus
(needed for stopword-gated compositions — the plain clone tags every
token and the gate rejects it). Consumption is a noop write (count()
prunes the deliverable projections — the round-10/12 lesson).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from bigdataflink_spark import get_spark  # noqa: E402
from bigdataflink_spark.measure import best_of, consume, mini_calib, warm_up  # noqa: E402
from bigdataflink_spark.plans.queries import QUERIES  # noqa: E402

DST100 = "/tmp/spark_graft_sf10"
DST100_DOMAIN = "/tmp/spark_graft_sf10_domain"
REPS = int(os.environ.get("BENCH_REPS", "2"))


def main() -> None:
    name = sys.argv[1]
    sf_dir = DST100_DOMAIN if len(sys.argv) > 2 and sys.argv[2] == "domain" else DST100
    spark = get_spark("core-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, "/root/testdata/sf0.1")
    calib = mini_calib(spark)
    best = best_of(lambda: consume(QUERIES[name](spark, sf_dir), "noop"), REPS)
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "cpus": spark.sparkContext.defaultParallelism,
                "best_s": round(best, 2),
                "calib_s": round(calib, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
