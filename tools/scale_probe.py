#!/usr/bin/env python
"""Scale probe: does the suite scale linearly when the data grows 10×?

Builds a synthetic sf1 under /tmp/spark_graft_sf1 by replicating the
sf0.1 fact-side tables 10× with key shifts (lineitem/orders shift
order keys in sync; events/documents/embeddings shift their ids) while
dimensions stay fixed — growing facts against stable dims, which also
makes FK keys 10× hotter (a mild skew stress). Then times the bench
headline suite at sf0.1 and sf1 and prints per-query scaling factors;
the ×100 tiers (``TIERS100``) do the same against a synthetic sf10.
Every row times through bigdataflink_spark/measure.py: a GC and a
mini-calib, then per scale one warm run that counts the rows and the
best of 3 consumed runs.

A query whose time grows ≲ data growth is scan/shuffle-bound and will
survive a 100× scale-up by adding executors; anything super-linear is
flagged. Results → SCALE.md (hand-curated from this output).

Run: python tools/scale_probe.py                              # ×10
     python tools/scale_probe.py {100,state,sketch,r12,r13}   # one ×100 tier
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from bigdataflink_spark import get_spark  # noqa: E402
from bigdataflink_spark.measure import best_of, consume, mini_calib, warm_up  # noqa: E402
from bigdataflink_spark.plans.queries import QUERIES  # noqa: E402
from bigdataflink_spark.sources.tables import TABLES, load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_sf1"
COPIES = 10

# (table, [key columns to shift]) — shifts stay in sync across tables
# sharing a key domain (l_orderkey ↔ o_orderkey).
SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
KEEP = [t for t in TABLES if t not in SHIFTS]

PROBE = [
    "q01_pricing_summary",
    "q02_revenue_by_region",
    "q03_top_customers",
    "q06_ri_check",
    "q10_window_rank",
    "q14_lww_dedup",
    "q15_tumbling_window",
    "q20_dedup_exact",
    "q21_minhash_lsh",
    "q22_simhash",
    "q30_text_stats",
    "q38_asof_join",
    "q39_range_join",
    "q44_corpus_pipeline",
    "q46_tfidf_topk",
    "q52_forecast_revenue",
    "q55_returned_items",
    "q56_nation_volume",
    "q57_window_battery",
    "q62_large_orders",
    "q66_embedding_topk_pandas",
    "q96_passage_dedup",
    "q97_vocab_coverage",
    "q99_scd2_history",
    "q103_gap_fill",
    "q108_ngram_novelty",
    "q109_full_outer_reconcile",
    "q111_zorder_key",
    "q125_doc_chunking",
    "q126_unigram_lm_score",
    "q129_pit_join",
    "q132_source_divergence",
    "q136_market_basket",
]


def build_sf1(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    for t in KEEP:
        load_table(spark, t, SRC).write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
    for t, keys in SHIFTS.items():
        base = load_table(spark, t, SRC)
        span = base.agg(F.max(keys[0])).collect()[0][0] + 1
        parts = []
        for i in range(COPIES):
            df = base
            for k in keys:
                df = df.withColumn(k, F.col(k) + F.lit(i * span))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")


def steady(spark, fn, sf_dir: str, how: str) -> "tuple[int, float]":
    """(rows, best-of-3 seconds) of ``fn(spark, sf_dir)`` consumed by
    ``how`` (``measure.consume``). Counting the rows first doubles as a
    warm run: one-shot times in this shared JVM swing up to 4× on
    GC/JIT state carried over from the previous query (measured: q21
    sf10 8.7s ↔ 36.8s across runs), so the minimum is the only number
    that reflects the PLAN."""
    n = fn(spark, sf_dir).count()
    return n, round(best_of(lambda: consume(fn(spark, sf_dir), how), 3), 3)


def scale_row(spark, fn, big_dir: str, how: str, big: str) -> dict:
    """One probe row: ``fn`` at sf0.1 and at ``big_dir`` (labelled
    ``sf<big>``), after a GC and a mini-calib (200M-row units) that
    says how fast the host was while the row was measured."""
    calib = mini_calib(spark)
    n_small, t_small = steady(spark, fn, SRC, how)
    n_big, t_big = steady(spark, fn, big_dir, how)
    return {
        "sf0.1_s": t_small,
        f"sf{big}_s": t_big,
        "x": round(t_big / t_small, 2) if t_small else None,
        "rows0.1": n_small,
        f"rows{big}": n_big,
        "calib": round(calib, 3),
    }


# ---- 100× tier: top-5 bench heavyweights against a synthetic sf10 --
#
# Replication must model 100× MORE data, not 100× duplicated data —
# otherwise the near-dup queries' OUTPUT grows quadratically in clone
# count by definition (every clone pairs with every other), which
# measures the semantics, not the operator. So clones are perturbed
# structure-preservingly:
#
# * documents: every token gets a clone-tag suffix — a bijection on
#   shingles, so intra-clone Jaccard structure is EXACTLY the base
#   corpus's while cross-clone similarity collapses to zero. Output
#   pairs scale linearly (×copies), like 100 disjoint corpora.
# * embeddings: clone i rotates dimensions by i % 64 and sign-flips
#   alternate dims every 64 clones — both transforms preserve ALL
#   intra-clone inner products exactly (permutation / s²=1), while
#   cross-clone cosines decorrelate.
# * lineitem/orders: key-shifted copies as in the ×10 tier (dims stay
#   fixed → FK keys get 100× hotter, a real skew stress).

DST100 = "/tmp/spark_graft_sf10"
DST100_DOMAIN = "/tmp/spark_graft_sf10_domain"
COPIES100 = 100
DIM = 64

def _sign_lsh_scaled(spark, sf_dir):
    """q49's operator at its 100×-scale operating point, via the
    DEFAULT call: rows_per_band=None auto-derives ⌈log2 n⌉ clamped to
    [4, dim//bands] (operators/similarity.py), which at 200k 64-dim
    vectors lands on 4×16 — 65536 signatures/band, candidates ∝ n.
    The old fixed 4×4 fixture default (16 signatures/band, candidates
    ∝ n²/16) was the r2 probe's super-linear finding; it is now only
    reachable by explicit override (q49's bit-pinned oracle fixture)."""
    from bigdataflink_spark.operators.similarity import sign_lsh_neardup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    return sign_lsh_neardup_pairs(emb, threshold=0.9)


PROBE100 = [
    "q02_revenue_by_region",
    "q21_minhash_lsh",
    "q26_ivf_topk",
    "sign_lsh_64bit(q49-at-scale)",
    "q56_nation_volume",
    # r3 additions (VERDICT r2 #6): the LLM-pipeline heavies whose 10×
    # growth was output-driven — verify they stay ~linear at 100×
    "q96_passage_dedup",
    "q101_fuzzy_match",
    "q108_ngram_novelty",
    "q126_unigram_lm_score",
    "q136_market_basket",
    # r8 addition (VERDICT r7 #1): the staged stratified draw — the
    # dominant language stratum grows 100x but the rank window's
    # input stays ~allocation, so wall must be scan-bound sub-linear
    "q209_exact_stratified_sample",
    # r10 additions: the quantized-ANN pair — int8 scoring is one
    # scan-shaped pass; PQ's ADC reads only codes + a broadcast LUT,
    # and the exact legs (float top-5 audits) are the linear residue
    "q223_int8_ann",
    "q224_pq_ann",
    # r10 codec additions: the arithmetic JPEG profiles — per-bit
    # Python entropy layers inside the embarrassingly-parallel Arrow
    # map shape; wall tracks the x100 OUTPUT rows, per-doc cost flat
    "q220_jpeg_arithmetic",
    "q225_jpeg_arith_lossless",
    # r11 additions: exact substring dedup (window explode + count
    # shuffle + interval merge — must track total tokens ~linearly),
    # the BPE trainer (one corpus census, then 8 vocab-sized rounds —
    # wall should grow ≪ corpus), and the composed ANN stack (routed
    # cells only: candidate rows ∝ cell size; the exact audit legs
    # are the linear residue)
    "q226_substring_dedup",
    "q227_bpe_train",
    "q228_ivf_int8_rerank",
    # r12 additions: excision (q226's head + one per-doc HOF
    # projection — must track q226), and the tokenizer end-to-end
    # (corpus census + one explode-join; vocab-sized everything else)
    "q231_substring_excise",
    "q233_bpe_encode_pack",
    # r12: IVF-PQ — ADC work ∝ routed cells, codes 8 bytes/vector;
    # the cell-exact recall leg is the linear residue (as in q228)
    "q235_ivf_pq_rerank",
]
# probe rows that are not a declared query
PROBE_FNS = {"sign_lsh_64bit(q49-at-scale)": _sign_lsh_scaled}
FIXED100 = ["region", "nation", "customer", "supplier", "part"]


def _union_all(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_sf10(spark) -> None:
    os.makedirs(DST100, exist_ok=True)
    for t in FIXED100:
        load_table(spark, t, SRC).write.mode("overwrite").parquet(f"{DST100}/{t}.parquet")

    li, orders = load_table(spark, "lineitem", SRC), load_table(spark, "orders", SRC)
    span = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    _union_all(
        [li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * span)) for i in range(COPIES100)]
    ).write.mode("overwrite").parquet(f"{DST100}/lineitem.parquet")
    _union_all(
        [orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * span)) for i in range(COPIES100)]
    ).write.mode("overwrite").parquet(f"{DST100}/orders.parquet")

    docs = load_table(spark, "documents", SRC)
    dspan = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    _union_all(
        [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * dspan)).withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1x{i}")
            )
            for i in range(COPIES100)
        ]
    ).write.mode("overwrite").parquet(f"{DST100}/documents.parquet")

    emb = load_table(spark, "embeddings", SRC)
    espan = emb.agg(F.max("vec_id")).collect()[0][0] + 1

    def clone_vec(i):
        shift = i % DIM
        vec = F.col("embedding")
        if shift:
            vec = F.concat(
                F.slice("embedding", shift + 1, DIM - shift),
                F.slice("embedding", 1, shift),
            )
        if (i // DIM) % 2:
            vec = F.transform(vec, lambda v, j: F.when(j % 2 == 0, -v).otherwise(v))
        return emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * espan)).withColumn(
            "embedding", vec
        )

    _union_all([clone_vec(i) for i in range(COPIES100)]).write.mode("overwrite").parquet(
        f"{DST100}/embeddings.parquet"
    )
    _build_sf10_events(spark)


def _build_sf10_events(spark) -> None:
    """events ×100 (round-4 addition for the state/iterative probes):
    event_id key-shifted per clone, user_id/ts/type/value kept — user
    keys get 100× hotter, the same skew stress as the fact tables."""
    ev = load_table(spark, "events", SRC)
    espan = ev.agg(F.max("event_id")).collect()[0][0] + 1
    _union_all(
        [ev.withColumn("event_id", F.col("event_id") + F.lit(i * espan)) for i in range(COPIES100)]
    ).write.mode("overwrite").parquet(f"{DST100}/events.parquet")


# ×100 tiers, one per run: query → (×100 dir, consumption). count()
# for the scan/shuffle-shaped families; a noop write for the
# deliverable-emitting queries, whose expensive work IS the output
# projection that count() prunes (q231's repaired-text assembly, q233's
# id flattening: the round-10 "probe the CONSUMED column" lesson).
TIERS100 = {
    "100": dict.fromkeys(PROBE100, (DST100, "count")),
    # round 4 (VERDICT r3 #5): the state / iterative family — snapshots,
    # the one-scan expectations engine, streaming SCD2, the rollup;
    # the tier adds PageRank at real iteration counts and the rollup's
    # compaction payoff (_state_legs)
    "state": dict.fromkeys(
        [
            "q174_snapshot_diff",
            "q179_expectations_audit",
            "q180_streaming_scd2",
            "q181_continuous_rollup",
        ],
        (DST100, "count"),
    ),
    # round 10 (VERDICT r9 #6): the full sketch family — batch
    # KMV/Bloom/CMS/quantile plus the streaming twins. Streaming twins
    # allocate fresh tempdir state per call, so steady-state repeats
    # re-run the whole 3-micro-batch pipeline each time (that IS the
    # measured shape: per-batch cost must be flat in corpus size
    # because state is bounded — k·levels rows / m positions /
    # keep·d·w counters).
    "sketch": dict.fromkeys(
        [
            "q213_kmv_distinct",
            "q214_bloom_seen_set",
            "q215_streaming_bloom",
            "q216_cms_frequency",
            "q217_quantile_sketch",
            "q218_streaming_kmv",
            "q219_streaming_cms",
            "q221_theta_set_ops",
            "q222_streaming_quantile",
            # r12: the q217 split — production build must probe
            # ~flat-ish (2 corpus passes), the audit carries the linear
            # residue
            "q234_quantile_sketch_audit",
            # r12 (VERDICT r11 "What's wrong #2"): the substring twin —
            # EXACT dedup state is honestly linear in distinct grams, so
            # per-batch cost tracks batch + state scan; compaction
            # bounds the file count, not the bytes
            "q230_streaming_substr_dedup",
        ],
        (DST100, "count"),
    ),
    # round 12: the deliverable-emitting operators
    "r12": dict.fromkeys(
        [
            "q231_substring_excise",
            "q233_bpe_encode_pack",
            "q235_ivf_pq_rerank",
            "q236_streaming_substr_excise",
            "q237_curated_corpus",
            "q238_streaming_pq_index",
        ],
        (DST100, "noop"),
    ),
    # round 13: q237 composed on the DOMAIN-PRESERVING clone (the
    # token-tagged clone fails the stopword gate and q237 measured 0
    # rows); q239 keep-first excision (vs q231's drop-all machinery);
    # q240 routed streaming PQ index, with the measured per-trigger
    # scan fraction (avg n_scanned / store size) at both scales — the
    # scored-rows-proportional-to-routed-cells pin.
    "r13": {
        "q237_curated_corpus": (DST100_DOMAIN, "noop"),
        "q239_substring_excise_keepfirst": (DST100, "noop"),
        "q240_streaming_ivf_pq_index": (DST100, "noop"),
    },
}


def main_100(tier: str) -> None:
    """One ×100 tier: every query of ``TIERS100[tier]`` at sf0.1 and at
    its ×100 dir.

    Run: python tools/scale_probe.py {100,state,sketch,r12,r13}
    """
    spark = get_spark(f"scale-probe-{tier}")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{DST100}/lineitem.parquet"):
        print("building synthetic sf10 ...", file=sys.stderr)
        build_sf10(spark)
    elif not os.path.exists(f"{DST100}/events.parquet"):
        print("adding events to existing sf10 ...", file=sys.stderr)
        _build_sf10_events(spark)
    probes = TIERS100[tier]
    if any(d == DST100_DOMAIN for d, _ in probes.values()) and not os.path.exists(
        f"{DST100_DOMAIN}/documents.parquet"
    ):
        print("building domain-preserving sf10 documents ...", file=sys.stderr)
        build_sf10_domain(spark)
    warm_up(spark, SRC)
    report = {}
    for name, (big_dir, how) in probes.items():
        report[name] = scale_row(spark, PROBE_FNS.get(name) or QUERIES[name], big_dir, how, "10")
        if name == "q240_streaming_ivf_pq_index":
            for tag, d in (("scan_frac0.1", SRC), ("scan_frac10", big_dir)):
                rows = QUERIES[name](spark, d).collect()
                total = load_table(spark, "embeddings", d).count()
                last = [r for r in rows if r.slice == 2]
                if last:
                    avg = sum(r.n_scanned for r in last) / len(last)
                    report[name][tag] = round(avg / total, 4)
        print(f"{name}: {report[name]}", file=sys.stderr)
    if tier == "state":
        report.update(_state_legs(spark))
    print(json.dumps({"tier": tier, "copies": COPIES100, "queries": report}, indent=2))


def _state_legs(spark) -> dict:
    """The state tier's two timed legs beyond its queries."""
    import shutil
    import tempfile

    # PageRank at real iteration counts on the sf10 event graph:
    # post-lineage-fix, total time must be ~linear in iterations
    # (flat per-round cost); pre-fix each extra round re-derived all
    # prior rounds on any action.
    from pyspark.sql.window import Window

    from bigdataflink_spark.operators.graph import pagerank_integer

    ev = load_table(spark, "events", DST100)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    pr = {}
    for iters in (5, 10, 20):
        t0 = time.perf_counter()
        pagerank_integer(edges, iterations=iters, weight_col="w").count()
        total = time.perf_counter() - t0
        pr[iters] = {"total_s": round(total, 2), "s_per_iter": round(total / iters, 3)}
        print(f"pagerank sf10 iters={iters}: {pr[iters]}", file=sys.stderr)
    report = {"pagerank_iteration_sweep_sf10": pr}

    # Rollup: parts-merge cost vs batch count + compaction payoff.
    from bigdataflink_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        rollup_batch,
    )

    ev10 = load_table(spark, "events", DST100)
    parts = tempfile.mkdtemp(prefix="probe_rollup_") + "/parts"
    n_batches = 30
    t0 = time.perf_counter()
    for i in range(n_batches):
        rollup_batch(ev10.filter(F.pmod(F.col("event_id"), F.lit(n_batches)) == i), i, parts)
    t_write = time.perf_counter() - t0
    t0 = time.perf_counter()
    read_rollup(spark, parts).count()
    t_read_parts = time.perf_counter() - t0
    t0 = time.perf_counter()
    compact_rollup(spark, parts)
    t_compact = time.perf_counter() - t0
    t0 = time.perf_counter()
    read_rollup(spark, parts).count()
    t_read_compacted = time.perf_counter() - t0
    report["rollup_compaction_sf10"] = {
        "n_batches": n_batches,
        "write_partials_s": round(t_write, 2),
        "read_30_parts_s": round(t_read_parts, 3),
        "compact_s": round(t_compact, 2),
        "read_compacted_s": round(t_read_compacted, 3),
    }
    print(f"rollup sf10: {report['rollup_compaction_sf10']}", file=sys.stderr)
    shutil.rmtree(os.path.dirname(parts), ignore_errors=True)
    return report


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{DST}/lineitem.parquet"):
        print("building synthetic sf1 ...", file=sys.stderr)
        build_sf1(spark)
    warm_up(spark, SRC)
    report = {q: scale_row(spark, QUERIES[q], DST, "count", "1") for q in PROBE}
    print(json.dumps({"copies": COPIES, "queries": report}, indent=2))


def build_sf10_domain(spark) -> None:
    """×100 documents clone that PRESERVES function-word identity
    (round 13, VERDICT r12 "What's missing #1"): the original clone
    suffix-tags EVERY token, which keeps dedup structure but turns
    'the' into 'thex7' — any stopword-keyed quality gate then rejects
    the whole synthetic corpus and composed curation queries measure
    0 rows at ×100. Here only CONTENT tokens get the per-clone tag;
    the 8 gate stopwords pass through verbatim, so stopword_ratio,
    mean-token-length band and dup-bigram structure survive cloning
    and the Gopher gates admit clones at the same rate as originals.
    Cross-clone duplicate grams can only be all-stopword runs (rare
    by construction); within-clone dedup structure is exactly the
    original's.

    Layout: ``DST100_DOMAIN`` holds symlinks to every sf10 table
    except documents.parquet, which is the domain-preserving clone —
    so any query runs unchanged against the dir."""
    from bigdataflink_spark.operators.text import STOPWORDS

    docs = load_table(spark, "documents", SRC)
    dspan = docs.agg(F.max("doc_id")).collect()[0][0] + 1

    def clone(i):
        if i == 0:
            return docs
        toked = F.split(F.col("text"), " ")
        mapped = F.transform(
            toked,
            lambda t: F.when(
                (t == "") | t.isin(*STOPWORDS), t
            ).otherwise(F.concat(t, F.lit(f"x{i}"))),
        )
        return docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * dspan)
        ).withColumn("text", F.array_join(mapped, " "))

    os.makedirs(DST100_DOMAIN, exist_ok=True)
    _union_all([clone(i) for i in range(COPIES100)]).write.mode(
        "overwrite"
    ).parquet(f"{DST100_DOMAIN}/documents.parquet")
    for t in FIXED100 + ["lineitem", "orders", "events", "embeddings"]:
        link = f"{DST100_DOMAIN}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{DST100}/{t}.parquet", link)


if __name__ == "__main__":
    tier = next((t for t in TIERS100 if t in sys.argv[1:]), None)
    if tier:
        main_100(tier)
    else:
        main()
