#!/usr/bin/env python
"""Targeted bench: measure named queries with bench.py's exact
methodology (System.gc + 25M-row mini-calib + best-of-3 full-result
count, all from bigdataflink_spark/measure.py) without running the
whole suite. For optimization iteration — the committed record stays
tools/bench_record.py.

    python tools/bench_some.py q237_curated_corpus q233_bpe_encode_pack
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from bigdataflink_spark import get_spark  # noqa: E402
from bigdataflink_spark.measure import best_of, consume, mini_calib, warm_up  # noqa: E402
from bigdataflink_spark.plans.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("BENCH_REPS", "3"))


def main() -> None:
    spark = get_spark("bench_some")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, SF_DIR)
    out = {}
    for name in sys.argv[1:]:
        c = mini_calib(spark)
        best = best_of(lambda: consume(QUERIES[name](spark, SF_DIR), "count"), REPS)
        out[name] = {"sec": round(best, 3), "calib": round(c, 3), "norm": round(best / c, 3)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
