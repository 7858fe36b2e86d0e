"""SparkSession factory.

Defaults are chosen for the scale target (1000-executor cluster over
~100 TB), degraded gracefully to local[N] for tests:

* AQE on (runtime coalescing, skew-join splitting, dynamic join
  selection) — at 100 TB the static plan is always wrong somewhere.
* Broadcast threshold kept at a real value so small dims
  (region/nation/supplier, and the reference's 6 star dims) broadcast
  instead of shuffling the fact side.
* ``spark.sql.shuffle.partitions`` = the core count
  (``SPARK_GRAFT_CPUS``); AQE coalesces downward so oversizing is
  cheap.
* Arrow enabled — every Pandas UDF / ``applyInPandas`` hot path in
  operators/ rides vectorized Arrow batches, never per-row pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "bigdataflink-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        # Split small inputs into at least 8 scan tasks: a 10 MB
        # parquet file would otherwise scan as ONE task, serializing
        # CPU-heavy per-row work (tokenize/ngram/decode) on a 32-core
        # box. 8 (not core count) balances that against per-task
        # scheduling overhead on many-small-action workloads — the
        # star ETL's 7 table actions pay ~20% for a 32-way floor.
        # On a real cluster defaultParallelism drives splits anyway;
        # maxPartitionBytes above still caps splits of big inputs.
        .config("spark.sql.files.minPartitionNum", "8")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
