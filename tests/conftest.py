from __future__ import annotations

import glob
import os
from typing import NamedTuple

import duckdb
import pytest

from bigdataflink_spark import get_spark
from bigdataflink_spark.sources import SALES_CSV_GLOB
from starbench.corpus import write_csv_corpus
from starbench.expected import star_of

# Override to sweep the oracle gate at another scale factor, e.g.
#   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/test_queries_oracle.py
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def pytest_collection_modifyitems(config, items):
    """Deselect @pytest.mark.slow tests unless SPARK_GRAFT_SLOW_TESTS
    is set (round 14, VERDICT r13 "Next round" #2): seven stream/batch
    parity + TTL tests take 60–145 s EACH (~12 of the suite's ~37
    minutes) and made the full run overrun the driver's capture
    budget, leaving the pytest gate unprovable. The default run now
    fits the budget; the slow seven still gate every round via
    ``SPARK_GRAFT_SLOW_TESTS=1 pytest tests/`` (run and recorded in
    OPTIMIZATION_r<N>.md), and the semantics they protect are also
    pinned by the per-query oracle sweeps."""
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    slow = [it for it in items if it.get_closest_marker("slow")]
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = [it for it in items if not it.get_closest_marker("slow")]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


class SalesCorpus(NamedTuple):
    glob: str
    counts: dict[str, int] | None  # None: the reference CSVs keep their own goldens


@pytest.fixture(scope="session")
def sales_corpus(tmp_path_factory):
    """The sales CSVs the star tests read: the reference corpus when
    it exists, otherwise a generated reference-quirk corpus of the same
    shape (10 files x 1000 rows, 1000 entities) with its expected
    star-table row counts."""
    if glob.glob(SALES_CSV_GLOB):
        return SalesCorpus(SALES_CSV_GLOB, None)
    d = str(tmp_path_factory.mktemp("sales_corpus"))
    files = write_csv_corpus(d, 1, 10, 1000, 1000)
    return SalesCorpus(os.path.join(d, "*.csv"),
                       star_of(r for rows in files for r in rows).counts())


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
