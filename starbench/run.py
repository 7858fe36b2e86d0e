#!/usr/bin/env python3
"""Benchmark of the paper's streaming star pipeline, end to end.

    python3 starbench/run.py --workload ref_replay --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, ``local[4]``:

1. set-up (``setup_s``): Spark session, progress listener, and a
   warm-up ``produce_jsonl`` over a throwaway corpus in its own dirs;
2. the workload, driven only through ``produce_jsonl``,
   ``run_stream_to_star``, the tables it returns and ``spark.sql``;
3. a check of the published star against the expected star computed
   in plain Python (``expected.py``).

Workloads (inputs are generated from ``--seed``):

* ``ref_replay`` — the paper's shape: reference-quirk CSV files of
  1000 rows with ids restarting in every file → ``produce_jsonl`` →
  ``run_stream_to_star(max_files_per_trigger=1)`` → publish. Passes
  over fresh corpora repeat while they fit in ``--seconds``.
* ``scheduled_freshness`` — an open-loop lander puts 100-message JSONL
  files (~0.5% malformed lines, unique keys) into the landing dir at
  2 files/s for 0.3 × ``--seconds``; the consumer calls
  ``run_stream_to_star`` back to back on one checkpoint until the
  backlog drains.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a
separate run with the event log on and spans around the producer,
the merge and the publish step; it prints the per-layer metrics. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
All files go under ``.starbench_work/`` in the working directory and
are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from starbench import corpus  # noqa: E402
from starbench.expected import TABLES, ExpectedStar, compare, star_of  # noqa: E402

CPUS = "4"
WORK_ROOT = ".starbench_work"
REF_FILES = 2            # CSV files per ref_replay pass
REF_ROWS = 1000          # rows per CSV file (ids 1..1000 in each)
REF_ENTITIES = 1000      # customer/seller/product id range
WARMUP_ROWS = 20         # rows of the throwaway CSV produced during set-up
SCHED_RATE = 2.0         # files per second
SCHED_ROWS = 100         # messages per landed file
SCHED_MALFORMED = 0.005  # share of malformed JSON lines
SCHED_SHARE = 0.3        # share of --seconds the schedule spans
DRAIN_LIMIT_S = 150.0    # give up if the backlog has not drained by then
PARSE_ROWS = 10000       # rows of the file parse/cleanse are timed on
PARSE_REPS = 3           # timed parse/cleanse repeats; the median is reported

END_TO_END = {
    "setup_s": "s",
    "ingest_msgs_per_s": "msg/s",
    "trigger_s_p50": "s",
    "freshness_s_p50": "s",
    "freshness_s_p90": "s",
    "state_mb": "MB",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "producer.s": "s",
    "producer.jobs": "count",
    "source.latestOffset_ms_p50": "ms",
    "source.getBatch_ms_p50": "ms",
    "source.query_start_s_p50": "s",
    "source.backlog_files_max": "count",
    "pipeline.addBatch_s_p50": "s",
    "pipeline.commit_ms_p50": "ms",
    "pipeline.queryPlanning_ms_p50": "ms",
    "pipeline.deadletter_trigger_s_p50": "s",
    "pipeline.rows_per_trigger_p50": "count",
    "pipeline.dead_letters": "count",
    "merge.calls_per_trigger": "count",
    "merge.s_per_trigger": "s",
    "merge.jobs_per_trigger": "count",
    "merge.dirty_bucket_ratio": "ratio",
    "merge.files_written_per_trigger": "count",
    "merge.bytes_written_per_msg": "B",
    "parse.us_per_row": "us",
    "cleanse.us_per_row": "us",
    "publish.jobs": "count",
    "publish.s": "s",
    "query.s": "s",
    "spark.jobs_per_trigger": "count",
    "spark.stages_per_trigger": "count",
    "spark.tasks_per_trigger": "count",
    "spark.driver_gap_s_per_trigger": "s",
    "spark.executor_run_s_per_trigger": "s",
    "spark.executor_cpu_s_per_trigger": "s",
    "spark.gc_s_per_trigger": "s",
    "spark.shuffle_write_bytes_per_trigger": "B",
    "trace.trigger_s_p50": "s",
    "trace.phase_sum_ratio_p50": "ratio",
}

STAR_TABLES = list(TABLES)

VERIFY_SQL = [
    # row count per published table
    " UNION ALL ".join(f"SELECT '{t}' AS t, COUNT(*) AS n FROM {t}" for t in STAR_TABLES),
    # fact uniqueness and measures
    "SELECT COUNT(*) AS n, COUNT(DISTINCT source_sale_id) AS nd,"
    " SUM(sale_quantity) AS qty, SUM(sale_total_price) AS total FROM fact_sales",
    # 6-way referential integrity: fact keys with no dim row
    """SELECT
      SUM(CASE WHEN c.customer_key IS NULL THEN 1 ELSE 0 END) AS missing_customer,
      SUM(CASE WHEN s.seller_key IS NULL THEN 1 ELSE 0 END) AS missing_seller,
      SUM(CASE WHEN p.product_key IS NULL THEN 1 ELSE 0 END) AS missing_product,
      SUM(CASE WHEN st.store_key IS NULL THEN 1 ELSE 0 END) AS missing_store,
      SUM(CASE WHEN su.supplier_key IS NULL THEN 1 ELSE 0 END) AS missing_supplier,
      SUM(CASE WHEN d.date_key IS NULL THEN 1 ELSE 0 END) AS missing_date
    FROM fact_sales f
    LEFT JOIN dim_customer c ON f.customer_key = c.customer_key
    LEFT JOIN dim_seller s ON f.seller_key = s.seller_key
    LEFT JOIN dim_product p ON f.product_key = p.product_key
    LEFT JOIN dim_store st ON f.store_key = st.store_key
    LEFT JOIN dim_supplier su ON f.supplier_key = su.supplier_key
    LEFT JOIN dim_date d ON f.date_key = d.date_key""",
]

# The fact with its foreign keys resolved back to natural keys, in
# expected.TABLES attribute order.
OBSERVED_FACT_SQL = """SELECT f.source_sale_id, f.sale_quantity, f.sale_total_price,
  c.source_customer_id, s.source_seller_id, p.source_product_id,
  st.store_name, su.supplier_name, d.sale_date
FROM fact_sales f
LEFT JOIN dim_customer c ON f.customer_key = c.customer_key
LEFT JOIN dim_seller s ON f.seller_key = s.seller_key
LEFT JOIN dim_product p ON f.product_key = p.product_key
LEFT JOIN dim_store st ON f.store_key = st.store_key
LEFT JOIN dim_supplier su ON f.supplier_key = su.supplier_key
LEFT JOIN dim_date d ON f.date_key = d.date_key"""


def log(msg: str) -> None:
    print(f"[starbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def landed_files(path: str) -> list[str]:
    """Data files the file source would list (no _/. names)."""
    return sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))


def match_calls(landed: list[float], call_starts: list[float]) -> list[int]:
    """For each file, the index of the first consumer call that started
    at or after it landed (calls are in start order)."""
    out = []
    for t in landed:
        idx = next((i for i, s in enumerate(call_starts) if s >= t), None)
        if idx is None:
            raise ValueError(f"no consumer call started after a file landed at {t}")
        out.append(idx)
    return out


def consumed_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name -> batch id that read it, from the file source's log
    in the query checkpoint."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


class Bench:
    """One benchmark process: Spark session, listener, optional tracer."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.eventlog = os.path.join(work, "eventlog")
        self._configure_env()
        from bigdataflink_spark import get_spark
        from starbench.trace import ProgressLog, Tracer

        self.spark = get_spark("starbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.log = ProgressLog()
        self.spark.streams.addListener(self.log)
        self.tracer = Tracer()
        self._n_runs = 0  # streaming query runs started so far

    def _configure_env(self) -> None:
        for d in ("local", "jtmp", "pytmp", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = CPUS
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "pytmp")
        tempfile.tempdir = None
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'jtmp')}"
        )
        conf = [
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
        ]
        if self.trace:
            conf += [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{self.eventlog}",
                "spark.eventLog.compress=false",
            ]
        args = " ".join(f"--conf {shlex.quote(c)}" for c in conf)
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def install_spans(self) -> None:
        """The merge span (traced run); the other layers are read from
        progress events and the event log."""
        from bigdataflink_spark.streaming import merge

        self.tracer.wrap_merge(merge)

    # --- calls into the pipeline ------------------------------------
    def produce(self, land: str, csv_glob: str) -> int:
        from bigdataflink_spark.sources.producer import produce_jsonl

        with self.tracer.span("producer.produce_jsonl"):
            return produce_jsonl(self.spark, land, csv_glob)

    def stream(self, land: str, state: str, ckpt: str, max_files: int) -> dict:
        """One ``run_stream_to_star`` call; returns after the listener
        has seen both of its queries terminate."""
        from bigdataflink_spark.streaming import run_stream_to_star

        tables = run_stream_to_star(self.spark, land, state, ckpt, max_files)
        self._n_runs += 2  # upsert query + dead-letter query
        self.log.wait_terminated(self._n_runs)
        return tables

    def publish(self, tables: dict) -> float:
        """Writes all seven tables to the noop sink; returns seconds."""
        t0 = time.time()
        with self.tracer.span("publish"):
            for name in STAR_TABLES:
                tables[name].write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def verify_sql(self) -> tuple[float, list]:
        """The verification SQL over the published star; returns
        (seconds, results)."""
        t0 = time.time()
        results = [self.spark.sql(q).collect() for q in VERIFY_SQL]
        return time.time() - t0, results

    def dead_letters(self, state: str) -> int:
        from pyspark.errors import AnalysisException
        from bigdataflink_spark.streaming.pipeline import read_dead_letters

        try:
            return read_dead_letters(self.spark, os.path.join(state, "_dead_letter")).count()
        except AnalysisException:  # no dead letter was ever written
            return 0

    # --- correctness --------------------------------------------------
    def observe(self, tables: dict) -> dict[str, dict]:
        """Registers the returned tables as views and reads them back
        keyed by natural key. Running first, it also absorbs the cold
        cost of the scans and joins that publish and query time."""
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        observed: dict[str, dict] = {}
        for t, (key, attrs) in TABLES.items():
            if t == "fact_sales":
                rows = self.spark.sql(OBSERVED_FACT_SQL).collect()
            else:
                rows = self.spark.sql(f"SELECT {key}, {', '.join(attrs)} FROM {t}").collect()
            observed[t] = {r[0]: tuple(r[1:]) for r in rows}
        return observed

    def check(self, exp: ExpectedStar, observed: dict, results: list, dead: int,
              injected: int) -> int:
        """Failed messages: wrong or missing effects in the star, rows
        that should not exist, failed invariants, unexpected dead
        letters."""
        failed = compare(exp, observed)

        counts = {r["t"]: r["n"] for r in results[0]}
        fact = results[1][0]
        missing = sum(v or 0 for v in results[2][0])
        want_qty, want_total = exp.fact_sums()
        invariant_errors = (
            sum(abs(counts.get(t, 0) - n) for t, n in exp.counts().items())
            + (fact["n"] - fact["nd"])
            + missing
            + int(fact["qty"] != want_qty)
            + int(fact["total"] != want_total)
        )
        if invariant_errors and not failed:
            failed = invariant_errors
        return failed + abs(dead - injected)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def peak_rss_mb(self) -> float:
        """Peak RSS of the Python driver plus the driver JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0


def warm_up(b: Bench, seed: int) -> None:
    """``produce_jsonl`` over a throwaway one-file corpus with its own
    dirs: absorbs the JVM's first-job class-loading and JIT cost. A
    warm-up stream would absorb more, but costs ~20 s a run, which the
    benchmark's run budget does not have."""
    csv_dir = b.path("warmup", "csv")
    corpus.write_csv_corpus(csv_dir, seed ^ 0xA5A5, 1, WARMUP_ROWS, WARMUP_ROWS)
    b.produce(b.path("warmup", "land"), os.path.join(csv_dir, "MOCK_DATA*.csv"))


def finish(b: Bench, tables: dict, exp: ExpectedStar, state: str, injected: int) -> dict:
    """Checks the published star, then times publish and query on it."""
    t0 = time.time()
    observed = b.observe(tables)
    t1 = time.time()
    publish_s = b.publish(tables)
    query_s, results = b.verify_sql()
    t2 = time.time()
    dead = b.dead_letters(state)
    log(f"read-back {t1 - t0:.1f}s, publish {publish_s:.1f}s, query {query_s:.1f}s, "
        f"dead letters {time.time() - t2:.1f}s")
    return {
        "failed": b.check(exp, observed, results, dead, injected),
        "publish_s": publish_s,
        "query_s": query_s,
        "dead_letters": dead,
        "state": state,
    }


def ref_pass(b: Bench, seed: int, p: int) -> dict:
    d = b.path(f"ref{p}")
    files = corpus.write_csv_corpus(os.path.join(d, "csv"), seed * 1000 + p,
                                    REF_FILES, REF_ROWS, REF_ENTITIES)
    exp = star_of(row for rows in files for row in rows)
    land, state, ckpt = (os.path.join(d, x) for x in ("land", "state", "ckpt"))
    mark = b.log.mark()

    t0 = time.time()
    n = b.produce(land, os.path.join(d, "csv", "MOCK_DATA*.csv"))
    t_landed = time.time()
    backlog = len(landed_files(land))
    tables = b.stream(land, state, ckpt, 1)
    t_ret = time.time()
    log(f"producer {t_landed - t0:.1f}s, stream {t_ret - t_landed:.1f}s")
    triggers = b.log.upserts(mark)
    return {
        **finish(b, tables, exp, state, 0),
        "wall": time.time() - t0,
        "messages": n,
        "ingest": n / (max(t.end for t in triggers) - t0),
        "freshness": [t_ret - t_landed] * backlog,
        "calls": [(t_landed, t_ret, backlog)],
        "triggers": triggers,
        "dead_triggers": b.log.dead_letter_triggers(mark),
        "producer_s": t_landed - t0,
    }


def ref_replay(b: Bench, seed: int, seconds: float) -> list[dict]:
    """Passes over fresh corpora while the next one fits in ``seconds``."""
    passes: list[dict] = []
    t_begin = time.time()
    while True:
        passes.append(ref_pass(b, seed, len(passes)))
        log(f"ref_replay pass {len(passes)}: {passes[-1]['wall']:.1f}s")
        if time.time() - t_begin + passes[-1]["wall"] > seconds:
            return passes


def scheduled_freshness(b: Bench, seed: int, seconds: float) -> list[dict]:
    n_files = max(4, round(SCHED_RATE * seconds * SCHED_SHARE))
    land, state, ckpt = (b.path("sched", x) for x in ("land", "state", "ckpt"))
    lander = corpus.OpenLoopLander(land, seed, n_files, SCHED_ROWS, SCHED_RATE,
                                   SCHED_MALFORMED)
    exp = star_of(row for k, rows in enumerate(lander.files)
                  for i, row in enumerate(rows) if i not in lander.malformed[k])
    mark = b.log.mark()

    lander.start()
    while not lander.landed:
        time.sleep(0.005)
    calls = []  # (start, end, backlog)
    call_runs: list[set[str]] = []
    n_seen = 0
    while True:
        with lander.lock:
            cs = time.time()
            n_landed = len(lander.landed)
        m = b.log.mark()
        tables = b.stream(land, state, ckpt, 1_000_000)
        ce = time.time()
        calls.append((cs, ce, n_landed - n_seen))
        call_runs.append({t.run_id for t in b.log.upserts(m)})
        n_seen = n_landed
        if lander.done and n_landed == n_files:
            break
        if ce - lander.due[0] > DRAIN_LIMIT_S:
            raise RuntimeError("scheduled_freshness: backlog did not drain")
    lander.join(timeout=30)
    triggers = b.log.upserts(mark)

    # freshness: scheduled landing -> return of the first call started after it
    starts = [c[0] for c in calls]
    matched = match_calls(lander.landed, starts)
    freshness = [calls[c][1] - due for c, due in zip(matched, lander.due)]
    # every file must have been read no later than its matched call
    batch_call = {t.batch_id: i for i, runs in enumerate(call_runs)
                  for t in triggers if t.run_id in runs}
    read_by = consumed_batches(ckpt)
    late_reads = sum(
        1 for k, c in enumerate(matched)
        if batch_call.get(read_by.get(lander.name(k), -1), len(calls)) > c
    )

    out = finish(b, tables, exp, state, lander.n_malformed)
    out["failed"] += late_reads * SCHED_ROWS
    log(f"scheduled_freshness: {n_files} files, {len(calls)} calls, "
        f"generator late by at most {max(lander.late_s):.3f}s")
    return [{
        **out,
        "wall": time.time() - lander.due[0],
        "messages": n_files * SCHED_ROWS,
        "ingest": n_files * SCHED_ROWS / (max(t.end for t in triggers) - lander.due[0]),
        "freshness": freshness,
        "calls": calls,
        "triggers": triggers,
        "dead_triggers": b.log.dead_letter_triggers(mark),
        "producer_s": sum(lander.write_s),
        "gen_late_s_max": max(lander.late_s),
    }]


WORKLOADS = {"ref_replay": ref_replay, "scheduled_freshness": scheduled_freshness}


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


def end_to_end(b: Bench, passes: list[dict], setup_s: float) -> dict:
    from starbench.trace import p50

    fresh = [f for p in passes for f in p["freshness"]]
    return {
        "setup_s": setup_s,
        "ingest_msgs_per_s": p50(p["ingest"] for p in passes),
        "trigger_s_p50": p50(t.wall_s for p in passes for t in p["triggers"]),
        "freshness_s_p50": p50(fresh),
        "freshness_s_p90": quantile(fresh, 0.9),
        "state_mb": dir_bytes(passes[-1]["state"]) / 1e6,
        "peak_rss_mb": b.peak_rss_mb(),
    }


def isolated_parse_cleanse(b: Bench, seed: int) -> tuple[float, float]:
    """µs per row of ``parse_sales_records`` and of ``cleanse_sales``
    on one generated JSONL file, each consumed through the noop sink.
    The file is large enough that per-row work, not per-job overhead,
    dominates."""
    from bigdataflink_spark.plans.star import cleanse_sales
    from bigdataflink_spark.streaming.pipeline import parse_sales_records
    from starbench.trace import p50

    [rows] = corpus.unique_key_files(seed ^ 0x9A55, 1, PARSE_ROWS)
    corpus.write_jsonl(b.path("parse"), "part-00000.jsonl", rows, 0)
    raw = b.spark.read.text(b.path("parse", "part-00000.jsonl"))
    n = raw.count()
    parse, both = [], []
    for _ in range(PARSE_REPS):
        records, _errors = parse_sales_records(raw)
        t0 = time.time()
        records.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        cleanse_sales(records).write.format("noop").mode("overwrite").save()
        t2 = time.time()
        parse.append(t1 - t0)
        both.append(t2 - t1)
    parse_s, both_s = p50(parse), p50(both)
    return parse_s / n * 1e6, max(0.0, both_s - parse_s) / n * 1e6


def per_layer(b: Bench, passes: list[dict], parse_us: float, cleanse_us: float) -> dict:
    """Layer metrics from spans, progress events and the event log
    (read after Spark stopped, so every event is flushed)."""
    from starbench.trace import covered_s, p50, read_event_log, within

    jobs = read_event_log(b.eventlog)
    triggers = [t for p in passes for t in p["triggers"]]
    merges = b.tracer.named("merge.merge_lww_bucketed")
    publishes = b.tracer.named("publish")
    producers = b.tracer.named("producer.produce_jsonl")

    per_trig = []
    for t in triggers:
        tj = [j for j in jobs if j.query_id == t.query_id and j.batch_id == t.batch_id]
        tm = [s for s in merges if t.start <= s.start and s.end <= t.end + 0.05]
        per_trig.append({
            "jobs": len(tj),
            "stages": sum(len(j.stages) for j in tj),
            "tasks": sum(j.tasks for j in tj),
            "gap": t.wall_s - covered_s([(j.submit, j.end) for j in tj], t.start, t.end),
            "run": sum(j.run_s for j in tj),
            "cpu": sum(j.cpu_s for j in tj),
            "gc": sum(j.gc_s for j in tj),
            "shuffle": sum(j.shuffle_write_bytes for j in tj),
            "merge_calls": len(tm),
            "merge_s": sum(s.end - s.start for s in tm),
            "merge_jobs": sum(1 for j in tj if within(j.submit, tm)),
            "dirty": sum(s.attrs["dirty"] for s in tm) / max(1, sum(s.attrs["buckets"] for s in tm)),
            "files": sum(s.attrs["files"] for s in tm),
            "bytes_per_msg": sum(s.attrs["bytes"] for s in tm) / t.rows,
            "phase_ratio": sum(v for k, v in t.duration_ms.items() if k != "triggerExecution")
            / max(1, t.duration_ms.get("triggerExecution", 0)),
        })

    def med(key: str) -> float:
        return p50(x[key] for x in per_trig)

    # first upsert trigger of each call, against the call's start
    starts = []
    for p in passes:
        for cs, ce, _ in p["calls"]:
            first = [t.start for t in p["triggers"] if cs <= t.start <= ce]
            if first:
                starts.append(min(first) - cs)
    free_jobs = [j for j in jobs if j.query_id is None]
    return {
        "producer.s": p50(p["producer_s"] for p in passes),
        "producer.jobs": p50(sum(1 for j in free_jobs if within(j.submit, [s]))
                             for s in producers) if producers else 0,
        "source.latestOffset_ms_p50": p50(t.duration_ms.get("latestOffset", 0) for t in triggers),
        "source.getBatch_ms_p50": p50(t.duration_ms.get("getBatch", 0) for t in triggers),
        "source.query_start_s_p50": p50(starts),
        "source.backlog_files_max": max(c[2] for p in passes for c in p["calls"]),
        "pipeline.addBatch_s_p50": p50(t.duration_ms.get("addBatch", 0) / 1000 for t in triggers),
        "pipeline.commit_ms_p50": p50(t.duration_ms.get("walCommit", 0)
                                      + t.duration_ms.get("commitOffsets", 0) for t in triggers),
        "pipeline.queryPlanning_ms_p50": p50(t.duration_ms.get("queryPlanning", 0)
                                             for t in triggers),
        "pipeline.deadletter_trigger_s_p50": p50(t.wall_s for p in passes
                                                 for t in p["dead_triggers"]),
        "pipeline.rows_per_trigger_p50": p50(t.rows for t in triggers),
        "pipeline.dead_letters": sum(p["dead_letters"] for p in passes),
        "merge.calls_per_trigger": med("merge_calls"),
        "merge.s_per_trigger": med("merge_s"),
        "merge.jobs_per_trigger": med("merge_jobs"),
        "merge.dirty_bucket_ratio": med("dirty"),
        "merge.files_written_per_trigger": med("files"),
        "merge.bytes_written_per_msg": med("bytes_per_msg"),
        "parse.us_per_row": parse_us,
        "cleanse.us_per_row": cleanse_us,
        "publish.jobs": p50(sum(1 for j in free_jobs if within(j.submit, [s]))
                            for s in publishes),
        "publish.s": p50(p["publish_s"] for p in passes),
        "query.s": p50(p["query_s"] for p in passes),
        "spark.jobs_per_trigger": med("jobs"),
        "spark.stages_per_trigger": med("stages"),
        "spark.tasks_per_trigger": med("tasks"),
        "spark.driver_gap_s_per_trigger": med("gap"),
        "spark.executor_run_s_per_trigger": med("run"),
        "spark.executor_cpu_s_per_trigger": med("cpu"),
        "spark.gc_s_per_trigger": med("gc"),
        "spark.shuffle_write_bytes_per_trigger": med("shuffle"),
        "trace.trigger_s_p50": p50(t.wall_s for t in triggers),
        "trace.phase_sum_ratio_p50": med("phase_ratio"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.abspath(WORK_ROOT))
    b = None
    try:
        b = Bench(work, bool(args.trace))
        log(f"session ready at {time.time() - T_START:.1f}s")
        warm_up(b, args.seed)
        setup_s = time.time() - T_START
        log(f"set-up {setup_s:.1f}s")
        if b.trace:
            b.install_spans()
        passes = WORKLOADS[args.workload](b, args.seed, args.seconds)
        b.tracer.restore()
        if b.trace:
            parse_us, cleanse_us = isolated_parse_cleanse(b, args.seed)
            b.stop()
            metrics, units = per_layer(b, passes, parse_us, cleanse_us), PER_LAYER
        else:
            metrics, units = end_to_end(b, passes, setup_s), END_TO_END
            b.stop()
        b = None
        log("diagnostics " + json.dumps({
            "passes": len(passes),
            "triggers": [round(t.wall_s, 3) for p in passes for t in p["triggers"]],
            "gen_late_s_max": max((p.get("gen_late_s_max", 0.0) for p in passes)),
        }))
    finally:
        if b is not None:
            b.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(WORK_ROOT)

    failed = sum(p["failed"] for p in passes)
    out = {
        "correct": failed == 0,
        "attempted": sum(p["messages"] for p in passes),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
