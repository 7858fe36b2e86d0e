"""Structured-Streaming star-schema pipeline (SURVEY.md §3 EP2, §2.9).

The reference's Flink job is `source → json-parse → per-row Postgres
upsert` (stream_to_star.py:315-320). The Spark-native shape:

    readStream (JSONL dir / Kafka) → from_json(explicit schema)
      → cleanse projection (plans/star.cleanse_sales)
      → foreachBatch(upsert_star_batch)

``upsert_star_batch`` is a SET-BASED idempotent MERGE per micro-batch
instead of 7 SQL round-trips per record:

1. project each star table's (key, attrs, ``arrival_seq``) rows out of
   the cleansed batch (the Kafka offset / producer sequence travels
   with the message),
2. union with existing state and keep the last write per key by
   ``arrival_seq`` (exactly `ON CONFLICT DO UPDATE` with arrival order
   as the version),
3. publish dims + fact with deterministic surrogate keys
   (``finalize_star``).

The seven per-table merges (6 dims + fact) of step 2 run CONCURRENTLY,
one thread each: they touch disjoint state dirs and only read the
cached batch, so while one merge waits on a driver round trip another
runs tasks. foreachBatch is an ordinary batch context (Structured
Streaming, SIGMOD 2018), and each worker inherits the trigger's local
properties (query id, batch id, job group), so its jobs still belong
to the trigger and stopping the query still cancels them.

State lives in a bucketed parquet directory per table
(``streaming/merge.py``): partitioned on ``pmod(hash(key), N)``, a
micro-batch reads and rewrites ONLY the buckets its keys hash into
(dynamic partition overwrite) — O(dirty buckets) write amplification,
the plain-parquet analog of a Delta/Iceberg ``MERGE INTO``. On a real
lakehouse the same per-batch logic (steps 1-2) drives file-level
instead of bucket-level pruning.
Because the upsert is idempotent by (key, arrival_seq), checkpointed
replays after failure converge to the same state — the same
at-least-once → effectively-exactly-once argument the reference gets
from Postgres unique indexes (SURVEY.md §2.9 T3).

Per-record error capture (P10): rows whose JSON fails to parse land
in an errors side-channel with the raw payload, mirroring the
reference's ``"error: …"`` status stream (stream_to_star.py:284-298)
— the stream keeps running.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.util import inheritable_thread_target

from bigdataflink_spark.plans.star import DIM_SPECS, build_fact, cleanse_sales

# The 50 reference CSV columns (FIXTURES.md §1) + arrival_seq. All
# strings on the wire — typing is the cleanse layer's job.
SALES_FIELDS = [
    "id",
    "customer_first_name", "customer_last_name", "customer_age",
    "customer_email", "customer_country", "customer_postal_code",
    "customer_pet_type", "customer_pet_name", "customer_pet_breed",
    "seller_first_name", "seller_last_name", "seller_email",
    "seller_country", "seller_postal_code",
    "product_name", "product_category", "product_price",
    "product_quantity", "sale_date", "sale_customer_id",
    "sale_seller_id", "sale_product_id", "sale_quantity",
    "sale_total_price", "store_name", "store_location", "store_city",
    "store_state", "store_country", "store_phone", "store_email",
    "pet_category", "product_weight", "product_color", "product_size",
    "product_brand", "product_material", "product_description",
    "product_rating", "product_reviews", "product_release_date",
    "product_expiry_date", "supplier_name", "supplier_contact",
    "supplier_email", "supplier_phone", "supplier_address",
    "supplier_city", "supplier_country",
]

SALES_MESSAGE_SCHEMA = StructType(
    [StructField(f, StringType(), True) for f in SALES_FIELDS]
    + [StructField("arrival_seq", LongType(), True)]
)

# PERMISSIVE parse schema with the corrupt-record capture column —
# from_json yields an all-null row (not a null struct) for bad input,
# so malformed payloads are detected via _corrupt_record instead.
_PARSE_SCHEMA = StructType(
    SALES_MESSAGE_SCHEMA.fields + [StructField("_corrupt_record", StringType(), True)]
)


def parse_sales_records(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """JSON ``value`` column → (records, errors) — the parse/split
    stage shared by every transport (JSONL dir, Kafka).

    If the input also carries an ``arrival_seq`` column, it is
    TRANSPORT-provided order (e.g. the Kafka offset from
    ``project_kafka_records``) and overrides any in-payload
    arrival_seq — broker order wins over whatever the producer
    embedded. Errors carry the raw payload (P10 side channel).
    """
    transport_seq = "arrival_seq" in raw.columns
    cols = [
        F.col("value").alias("_raw"),
        F.from_json(
            "value",
            _PARSE_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
    ]
    if transport_seq:
        cols.append(F.col("arrival_seq").alias("_tseq"))
    parsed = raw.select(*cols)
    bad = F.col("r").isNull() | F.col("r._corrupt_record").isNotNull()
    records = parsed.filter(~bad)
    if transport_seq:
        records = records.select("r.*", "_tseq").drop("_corrupt_record", "arrival_seq")
        records = records.withColumnRenamed("_tseq", "arrival_seq")
    else:
        records = records.select("r.*").drop("_corrupt_record")
    errors = parsed.filter(bad).select(
        F.lit("error: malformed json").alias("status"), F.col("_raw")
    )
    return records, errors


def read_sales_stream(spark: SparkSession, jsonl_dir: str, max_files_per_trigger: int = 1):
    """Streaming (parsed, errors-split) sales records from a JSONL dir.

    Returns (records, errors): records is the typed stream; errors
    carries unparseable raw payloads (P10 side channel).
    """
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(jsonl_dir)
    )
    return parse_sales_records(raw)


# Buckets per state table: star-scale states are small; at 100 TB
# raise toward state_size / target_file_size (see streaming/merge.py).
STATE_BUCKETS = 16

# Per-dim (natural key, attribute columns) over the cleansed batch —
# shared by every terminal sink (bucketed-parquet MERGE, DBAPI upsert).
DIM_PROJECTION = {
    "dim_customer": (
        "source_customer_id",
        ["customer_name", "customer_country", "customer_age", "customer_email"],
    ),
    "dim_seller": (
        "source_seller_id",
        ["seller_name", "seller_country", "seller_email"],
    ),
    "dim_product": (
        "source_product_id",
        ["product_name", "product_category", "product_price",
         "product_rating", "product_reviews"],
    ),
    "dim_store": ("store_name", ["store_city", "store_country", "store_email"]),
    "dim_supplier": ("supplier_name", ["supplier_country", "supplier_email"]),
    "dim_date": ("sale_date", []),
}

FACT_COLS = [
    "arrival_seq", "source_sale_id", "sale_quantity", "sale_total_price",
    "source_customer_id", "source_seller_id", "source_product_id",
    "store_name", "supplier_name", "sale_date",
]


def upsert_star_batch(batch: DataFrame, batch_id: int, state_dir: str) -> None:
    """foreachBatch body: idempotent set-based MERGE of one micro-batch.

    Keeps per-key ``arrival_seq`` in the state tables so replayed or
    out-of-order batches can never regress a newer value (idempotent
    upsert — the T3 exactly-once argument).

    The seven table merges run concurrently, one worker thread per
    state table. The call returns only after every worker finished; if
    any merge failed, the first failure (in table order) is re-raised,
    so the trigger fails and its replay re-merges all seven tables.
    """
    from bigdataflink_spark.streaming import merge

    spark = batch.sparkSession
    cleansed = cleanse_sales(batch).cache()
    tables = [
        (f"state_{name}", key, ["arrival_seq", key, *attrs])
        for name, (key, attrs) in DIM_PROJECTION.items()
    ]
    tables.append(("state_fact", "source_sale_id", FACT_COLS))

    def merge_table(table: str, key: str, cols: list[str]) -> None:
        inc = cleansed.select(*cols).filter(F.col(key).isNotNull())
        path = os.path.join(state_dir, table)
        merge.merge_lww_bucketed(spark, inc, path, key, num_buckets=STATE_BUCKETS)

    try:
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            # wrap per worker: each call clones this thread's local
            # properties, so no two workers share (and race on) one
            # mutable Properties object
            futures = [
                pool.submit(inheritable_thread_target(spark)(merge_table), *t)
                for t in tables
            ]
        # leaving the pool waited for every worker
        for f in futures:
            f.result()
    finally:
        cleansed.unpersist()


def finalize_star(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """Publish the star schema from streaming state: assign surrogate
    keys and resolve fact FKs (broadcast joins) — same builders as the
    batch path, so stream ≡ batch by construction."""
    from pyspark.sql.window import Window
    from bigdataflink_spark.plans.star import DIM_KEYS

    rename = {
        "dim_customer": {
            "customer_country": "country", "customer_age": "age", "customer_email": "email",
        },
        "dim_seller": {"seller_country": "country", "seller_email": "email"},
        "dim_product": {
            "product_category": "category", "product_price": "price",
            "product_rating": "rating", "product_reviews": "reviews",
        },
        "dim_store": {"store_city": "city", "store_country": "country", "store_email": "email"},
        "dim_supplier": {"supplier_country": "country", "supplier_email": "email"},
        "dim_date": {},
    }
    from bigdataflink_spark.streaming.merge import read_state

    dims: dict[str, DataFrame] = {}
    for name, (key, _) in DIM_SPECS.items():
        df = read_state(spark, os.path.join(state_dir, f"state_{name}")).drop("arrival_seq")
        for old, new in rename[name].items():
            df = df.withColumnRenamed(old, new)
        if name == "dim_date":
            df = df.select(
                "sale_date",
                F.year("sale_date").alias("year"),
                F.month("sale_date").alias("month"),
                F.dayofmonth("sale_date").alias("day"),
            )
        natural_key = DIM_SPECS[name][0]
        w = Window.orderBy(natural_key)
        dims[name] = df.withColumn(DIM_KEYS[name], F.row_number().over(w).cast("long"))

    fact_state = read_state(spark, os.path.join(state_dir, "state_fact"))
    tables = dict(dims)
    tables["fact_sales"] = build_fact(fact_state, dims)
    return tables


def run_stream_to_star(
    spark: SparkSession,
    jsonl_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    dead_letter_dir: str | None = None,
    echo_status: bool = False,
) -> dict[str, DataFrame]:
    """End-to-end: stream the landing dir to completion (availableNow),
    then publish the star schema. Returns the final tables.

    The errors side channel is a first-class sink, mirroring the
    reference's per-record status stream (stream_to_star.py:296-320):
    malformed payloads land in ``dead_letter_dir`` as parquet
    (status + raw payload) under their own checkpoint, while the main
    pipeline keeps running. ``echo_status=True`` additionally prints
    the error records to the console (the reference's
    ``result.print()``). Defaults ``dead_letter_dir`` to
    ``<state_dir>/_dead_letter``.
    """
    records, errors = read_sales_stream(spark, jsonl_dir, max_files_per_trigger)
    if dead_letter_dir is None:
        dead_letter_dir = os.path.join(state_dir, "_dead_letter")
    queries = [
        records.writeStream.foreachBatch(
            lambda b, bid: upsert_star_batch(b, bid, state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start(),
        errors.writeStream.format("parquet")
        .option("path", dead_letter_dir)
        .option("checkpointLocation", dead_letter_dir + "_checkpoint")
        .trigger(availableNow=True)
        .start(),
    ]
    if echo_status:
        queries.append(
            errors.writeStream.format("console")
            .option("truncate", "false")
            .option("checkpointLocation", dead_letter_dir + "_console_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
    for q in queries:
        q.awaitTermination()
    return finalize_star(spark, state_dir)


def read_dead_letters(spark: SparkSession, dead_letter_dir: str) -> DataFrame:
    """The persisted error records (status, _raw)."""
    return spark.read.parquet(dead_letter_dir)
