"""Driver-style CORRECTNESS sweep: every queries() entry vs its
oracle_sql() DuckDB twin at an arbitrary sf dir (default sf0.01 —
the scale the driver grades at; tests/test_queries_oracle.py covers
sf0.001).

Usage: python tools/oracle_sweep.py [--json=OUT] [sf_dir] [query_prefix ...]
Prints one line per query and a failure summary; exit 1 on any
mismatch. ``--json=OUT`` additionally writes the per-query results as
a CORRECTNESS-style artifact (the per-round ``CORRECTNESS_LOCAL_r{N}
.json`` files — the auditable record of the locally-graded queries
the driver's fixed 50-query file doesn't cover; VERDICT r2 #2).
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from bigdataflink_spark.session import get_spark  # noqa: E402

_args = sys.argv[1:]
JSON_OUT = None
for a in list(_args):
    if a.startswith("--json="):
        JSON_OUT = a.split("=", 1)[1]
        _args.remove(a)
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = _args[1:]

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def _rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def main() -> int:
    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sorted(queries)
    if ONLY:
        names = [n for n in names if any(n.startswith(p) for p in ONLY)]

    failures = []
    record: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, SF_DIR)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
            spark_sec = round(time.time() - t0, 2)
            if name not in oracles:
                print(f"{name:42s} rows={len(spark_rows):>7} (no oracle) "
                      f"{time.time()-t0:5.1f}s")
                record[name] = {
                    "rows": len(spark_rows), "oracle": False, "pass": None,
                    "spark_sec": spark_sec,
                }
                continue
            t1 = time.time()
            res = duck.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            oracle_sec = round(time.time() - t1, 2)
            problems = []
            if sorted(spark_cols) != sorted(duck_cols):
                problems.append(f"cols {spark_cols} vs {duck_cols}")
            if len(spark_rows) != len(duck_rows):
                problems.append(f"rows {len(spark_rows)} vs {len(duck_rows)}")
            if not problems:
                sc = _rows_canon(spark_cols, spark_rows)
                dc = _rows_canon(duck_cols, duck_rows)
                if sc != dc:
                    bad = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:3]
                    problems.append(
                        "values: " + "; ".join(
                            f"spark={sc[i]} duck={dc[i]}" for i in bad
                        )
                    )
            status = "OK " if not problems else "FAIL"
            print(f"{name:42s} rows={len(spark_rows):>7} {status} "
                  f"{time.time()-t0:5.1f}s" + (" | " + " | ".join(problems) if problems else ""))
            record[name] = {
                "rows": len(spark_rows),
                "oracle": True,
                "pass": not problems,
                # VERDICT r6 #5: sec conflated engine + oracle time (q100
                # read 661 s when Spark was 8.7 s and DuckDB's recursive
                # CTE was the rest) — record both sides separately.
                "sec": round(time.time() - t0, 2),
                "spark_sec": spark_sec,
                "oracle_sec": oracle_sec,
                **({"problems": [p[:200] for p in problems]} if problems else {}),
            }
            if problems:
                failures.append((name, problems))
        except Exception as exc:  # noqa: BLE001
            msg = str(exc).splitlines()[0][:200]
            print(f"{name:42s} ERR {time.time()-t0:5.1f}s | {msg}")
            record[name] = {"oracle": True, "pass": False, "error": msg}
            failures.append((name, [msg]))

    print(f"\n{len(names) - len(failures)}/{len(names)} green at {SF_DIR}")
    for name, problems in failures:
        print(f"  FAIL {name}: {problems[0][:200]}")
    if JSON_OUT:
        with open(JSON_OUT, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_queries": len(names),
                    "n_pass": len(names) - len(failures),
                    "method": "rowcount+schema+order-insensitive canonical values vs DuckDB twin (driver methodology)",
                    "queries": record,
                },
                f,
                indent=1,
            )
        print(f"wrote {JSON_OUT}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
