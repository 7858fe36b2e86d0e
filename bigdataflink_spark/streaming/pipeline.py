"""Structured-Streaming star-schema pipeline (SURVEY.md §3 EP2, §2.9).

The reference's Flink job is `source → json-parse → per-row Postgres
upsert` (stream_to_star.py:315-320). The Spark-native shape:

    readStream (JSONL dir / Kafka) → from_json(explicit schema)
      → cleanse projection (plans/star.cleanse_sales)
      → foreachBatch(upsert_star_batch)

The cleanse projection is part of the stream's plan, built once per
query; each trigger's batch arrives already typed.

``upsert_star_batch`` is a SET-BASED idempotent MERGE per micro-batch
instead of 7 SQL round-trips per record:

1. project each star table's (``arrival_seq``, key, attrs) rows out of
   the cleansed batch (``plans/star.project_star``; the Kafka offset /
   producer sequence travels with the message),
2. union with existing state and keep the last write per key by
   ``arrival_seq`` (exactly `ON CONFLICT DO UPDATE` with arrival order
   as the version),
3. publish dims + fact with deterministic surrogate keys
   (``finalize_star``).

Steps 1 and 3 are the batch build's own functions (``project_star``,
``publish_star``); only the LWW step differs — the batch build dedups
all rows at once, the stream merges them into state one trigger at a
time. The star layout lives in ``plans/star.py`` alone, so the stream
publishes the batch star of its input prefix by construction.

The batch is checkpointed once (one job), then the seven per-table
merges (6 dims + fact) of step 2 run CONCURRENTLY, one thread each:
they touch disjoint state dirs and only read the checkpointed batch,
so while one merge waits on a driver round trip another runs tasks.
At one bucket each merge is one single-task job, so a trigger runs
eight jobs. foreachBatch is an ordinary batch context (Structured
Streaming, SIGMOD 2018), and each worker inherits the trigger's local
properties (query id, batch id, job group), so its jobs still belong
to the trigger and stopping the query still cancels them.

State lives in a bucketed parquet directory per table
(``streaming/merge.py``): partitioned on ``pmod(hash(key), N)``, a
micro-batch reads and rewrites ONLY the buckets its keys hash into
(dynamic partition overwrite) — O(dirty buckets) write amplification,
the plain-parquet analog of a Delta/Iceberg ``MERGE INTO``. Each table
sizes its own N from its bytes (``merge.fit_state_buckets``, called by
the table's worker before its merge): one bucket until the state
outgrows one scan split, which is every table at the paper's scale,
then a staged rebucket to the smallest power of two that fits. On a
real lakehouse the same per-batch logic (steps 1-2) drives file-level
instead of bucket-level pruning.
The upsert query starts through the package's one foreachBatch driver
(``streaming/statestore.start_foreach_batch``): on restart it
re-delivers a failed trigger under the same batch id. Because the
upsert is idempotent by (key, arrival_seq), checkpointed replays after
failure converge to the same state — the same at-least-once →
effectively-exactly-once argument the reference gets from Postgres
unique indexes (SURVEY.md §2.9 T3).

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

from bigdataflink_spark.plans.star import FACT, STAR, cleanse_sales, project_star, publish_star
from bigdataflink_spark.streaming.statestore import start_foreach_batch

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

    Returns (records, errors): records is the typed stream, the
    ``cleanse_sales`` projection of the parsed messages; errors carries
    unparseable raw payloads (P10 side channel).
    """
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(jsonl_dir)
    )
    records, errors = parse_sales_records(raw)
    return cleanse_sales(records), errors


def _state_path(state_dir: str, table: str) -> str:
    return os.path.join(state_dir, "state_fact" if table == FACT else f"state_{table}")


def upsert_star_batch(batch: DataFrame, batch_id: int, state_dir: str) -> None:
    """foreachBatch body: idempotent set-based MERGE of one micro-batch
    of cleansed rows (``cleanse_sales``, as ``read_sales_stream`` yields
    them).

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
    tables = project_star(batch.localCheckpoint(eager=True))

    def merge_table(table: str) -> None:
        path = _state_path(state_dir, table)
        merge.merge_lww_bucketed(
            spark, tables[table], path, STAR[table].key,
            num_buckets=merge.fit_state_buckets(spark, path),
        )

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # wrap per worker: each call clones this thread's local
        # properties, so no two workers share (and race on) one
        # mutable Properties object
        futures = [
            pool.submit(inheritable_thread_target(spark)(merge_table), t)
            for t in tables
        ]
    # leaving the pool waited for every worker
    for f in futures:
        f.result()


def finalize_star(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """Publish the star schema from streaming state. Merged state holds
    one LWW winner per key, so it goes straight to the batch build's
    ``publish_star``."""
    from bigdataflink_spark.streaming.merge import read_state

    return publish_star({t: read_state(spark, _state_path(state_dir, t)) for t in STAR})


def run_stream_to_star(
    spark: SparkSession,
    jsonl_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    dead_letter_dir: str | None = None,
) -> dict[str, DataFrame]:
    """End-to-end: stream the landing dir to completion (availableNow),
    then publish the star schema. Returns the final tables.

    The errors side channel is a first-class sink, mirroring the
    reference's per-record status stream (stream_to_star.py:296-320):
    malformed payloads land in ``dead_letter_dir`` as parquet
    (status + raw payload) under their own checkpoint, while the main
    pipeline keeps running. Defaults ``dead_letter_dir`` to
    ``<state_dir>/_dead_letter``.

    The upsert query goes through the package's one foreachBatch
    driver (``statestore.start_foreach_batch``); the dead-letter query
    stays a parquet file sink, whose ``_spark_metadata`` log keeps the
    dead letters exactly-once under replay.
    """
    records, errors = read_sales_stream(spark, jsonl_dir, max_files_per_trigger)
    if dead_letter_dir is None:
        dead_letter_dir = os.path.join(state_dir, "_dead_letter")
    queries = [
        start_foreach_batch(
            records, checkpoint_dir, lambda b, bid: upsert_star_batch(b, bid, state_dir)
        ),
        errors.writeStream.format("parquet")
        .option("path", dead_letter_dir)
        .option("checkpointLocation", dead_letter_dir + "_checkpoint")
        .trigger(availableNow=True)
        .start(),
    ]
    for q in queries:
        q.awaitTermination()
    return finalize_star(spark, state_dir)


def read_dead_letters(spark: SparkSession, dead_letter_dir: str) -> DataFrame:
    """The persisted error records (status, _raw)."""
    return spark.read.parquet(dead_letter_dir)
