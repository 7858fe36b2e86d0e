"""Driver-style oracle gate, run locally at sf0.001: every query in
queries() must match its oracle_sql() twin on row count, column
names, and order-insensitive values."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _canon(v):
    """Normalize a cell for comparison (mirror of driver semantics:
    order-insensitive, value-based)."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def _rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sc = _rows_canon(spark_cols, spark_rows)
    dc = _rows_canon(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:5]
    assert sc == dc, f"{name}: first value mismatches at {mism}: " + "; ".join(
        f"spark={sc[i]} duck={dc[i]}" for i in mism
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0
