"""bigdataflink_spark — a PySpark-native analytics engine with the
capabilities of the reference streaming star-schema ETL
(TurboBrumbo/BigDataFlink), re-expressed Spark-first.

Layout:
    session        SparkSession factory with scale-oriented defaults
    measure        the one timing core of bench.py and the tools/ probes
    functions/     column-expression library (cleanse/coerce semantics)
    sources/       batch + streaming sources and sinks
    operators/     dedup, similarity, text analysis, windows, multimodal
    plans/         star-schema builders, declared queries, DuckDB oracles
    streaming/     structured-streaming pipeline (foreachBatch upsert)
"""

from bigdataflink_spark.session import get_spark

__all__ = ["get_spark"]
