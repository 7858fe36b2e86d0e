"""Reference sales-CSV source (SURVEY.md §1.4, §2.1 S1).

Reads the reference's ``MOCK_DATA*.csv`` corpus with its physical
quirks reproduced:

* UTF-8 BOM (producer opens ``utf-8-sig``; csv_to_kafka.py:30) —
  Spark's CSV reader strips the BOM from the first header cell.
* Embedded newlines inside quoted ``product_description`` fields
  (~68% of rows) — requires ``multiLine=true`` with ``"`` quote and
  ``"`` escape (RFC-4180 doubled quotes).
* Every file reuses ids 1..1000; arrival order decides the winner
  under last-write-wins upsert. The producer sends files in
  ``sorted(glob)`` order (csv_to_kafka.py:24), so we materialize an
  explicit ``arrival_seq`` — (rank of file in sorted order, row index
  within file) flattened to one monotonically comparable long — and
  never rely on implicit task ordering (which is nondeterministic on
  a real cluster).

Scale note: ``multiLine=true`` makes a CSV file non-splittable (a
record can straddle any byte offset), so parallelism = #files. That
matches the 10-file reference corpus; for a 100 TB feed the fix is
many medium files (already how Kafka/object-store landing zones look),
not splitting a single giant multiline CSV.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SALES_CSV_GLOB = "/root/reference/data/MOCK_DATA*.csv"

# Rows per reference file; used only to pack (file_rank, row_in_file)
# into a single orderable long with room to spare.
_SEQ_STRIDE = 1 << 32


def read_sales_csv(spark: SparkSession, path_glob: str = SALES_CSV_GLOB) -> DataFrame:
    """All-string DataFrame of the sales CSVs + ``arrival_seq`` long.

    Column types are left as strings on purpose: coercion is the
    cleanse layer's job (functions/cleanse.py), mirroring the
    producer's stringly-typed JSON messages.
    """
    files = sorted(_glob.glob(path_glob))
    if not files:
        raise FileNotFoundError(f"no CSV files match {path_glob}")

    df = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", "UTF-8")
        .csv(files)
    )

    # input_file_name()/monotonically_increasing_id() are only valid
    # in the scan stage — materialize them as columns BEFORE the
    # window shuffle, or they evaluate to ''/garbage afterwards.
    # input_file_name() yields a URL-encoded URI (spaces -> %20).
    df = df.withColumn("_file", F.url_decode(F.input_file_name())).withColumn(
        "_mid", F.monotonically_increasing_id()
    )

    # file_rank: position of this row's file in the producer's sorted
    # send order; a when-chain keeps it a pure Catalyst expression.
    expr = None
    for rank, path in enumerate(files):
        cond = F.col("_file").endswith(os.path.basename(path))
        expr = F.when(cond, F.lit(rank)) if expr is None else expr.when(cond, F.lit(rank))
    file_rank = expr

    # Row index *within the file*: physical order, not the CSV's own
    # id column (ids repeat across files). multiLine CSVs read one
    # file per partition in order, so _mid is monotone within each
    # file — rank it per file to normalize.
    w = Window.partitionBy("_file").orderBy("_mid")
    row_in_file = F.row_number().over(w).cast("long")

    return df.withColumn(
        "arrival_seq", (file_rank * F.lit(_SEQ_STRIDE) + row_in_file).cast("long")
    ).drop("_file", "_mid")
