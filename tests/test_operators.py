"""Operator-level tests: multimodal Arrow plumbing and the custom
stateful streaming operator."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bigdataflink_spark.operators import multimodal
from bigdataflink_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark):
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    return multimodal.synthetic_media(spark, docs)


def test_sample_frames_fanout(spark, media):
    videos = media.filter(F.col("modality") == "video")
    frames = multimodal.sample_frames(videos, every_ms=10000)
    per_media = {
        r.media_id: r.n
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    durations = {r.media_id: r.duration_ms for r in videos.collect()}
    assert per_media
    for mid, n in per_media.items():
        assert n == max(1, durations[mid] // 10000)


def test_resize_compressed_formats_still_raise(spark, media):
    """Non-raw mimes need an external codec — explicit, not silent."""
    with pytest.raises(Exception, match="PIL|NotImplemented"):
        multimodal.resize_images(media.filter(F.col("modality") == "image"), 32, 32).collect()


def _rgb_docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def test_resize_raw_rgb_matches_numpy_reference(spark):
    """The distributed resize must be byte-identical to a local numpy
    nearest-neighbor resize of the same generative image."""
    import numpy as np

    media = multimodal.synthetic_rgb_media(_rgb_docs(spark, [3, 11]), width=16, height=12)
    got = {
        r.media_id: bytes(r.payload)
        for r in multimodal.resize_images(media, width=7, height=5).collect()
    }
    for mid in (3, 11):
        src = ((mid * 31 + np.arange(16 * 12 * 3)) % 256).astype(np.uint8).reshape(12, 16, 3)
        ys, xs = (np.arange(5) * 12) // 5, (np.arange(7) * 16) // 7
        assert got[mid] == src[np.ix_(ys, xs)].tobytes()


def test_resize_identity_preserves_payload(spark):
    media = multimodal.synthetic_rgb_media(_rgb_docs(spark, [5]), width=8, height=4)
    before = bytes(media.collect()[0].payload)
    after = multimodal.resize_images(media, width=8, height=4).collect()[0]
    assert bytes(after.payload) == before


def test_sample_frames_raw_video_exact_slices(spark):
    """Raw-RGB video frames come back as exact byte slices of the
    container, not hashes."""
    import numpy as np

    w, h, n_frames = 4, 2, 3
    frame_sz = w * h * 3
    payload = bytes(np.arange(n_frames * frame_sz, dtype=np.int64).astype(np.uint8))
    media = spark.createDataFrame(
        [(1, "video", payload, multimodal.RAW_RGB_VIDEO, w, h, 3000)],
        multimodal.MEDIA_SCHEMA,
    )
    frames = sorted(
        (r.frame_idx, bytes(r.frame_bytes))
        for r in multimodal.sample_frames(media, every_ms=1000).collect()
    )
    assert len(frames) == n_frames
    for i, (idx, fb) in enumerate(frames):
        assert idx == i
        assert fb == payload[i * frame_sz : (i + 1) * frame_sz]


def test_stateful_running_totals(spark):
    """applyInPandasWithState running totals == batch groupBy at end
    of an availableNow replay (update mode, last emit per key wins)."""
    from bigdataflink_spark.streaming.stateful import running_user_totals

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    d = tempfile.mkdtemp(prefix="stateful_")
    try:
        events.write.mode("overwrite").parquet(f"{d}/src")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/src")
        )
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName("totals")
            .outputMode("update")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # last update per user is the final state
        got = {
            r.user_id: (r.n_events, round(r.total_value, 2))
            for r in spark.sql(
                """SELECT user_id, n_events, total_value FROM (
                     SELECT *, row_number() OVER (PARTITION BY user_id
                                                  ORDER BY n_events DESC) rn
                     FROM totals) WHERE rn = 1"""
            ).collect()
        }
        expected = {
            r.user_id: (r.n, round(r.s, 2))
            for r in events.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivf_full_probe_equals_bruteforce(spark):
    """nprobe = n_cells turns IVF into exact search: results must
    equal the brute-force top-k on (query, neighbor, cos, rank)."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.operators import similarity

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") < 5)
    n_cells = emb.select("label").distinct().count()
    ivf = similarity.ivf_topk(emb, queries, k=5, nprobe=n_cells)
    brute = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    cols = ["query_id", "neighbor_id", "cos", "rank"]
    a = sorted(map(tuple, ivf.select(*cols).collect()))
    b = sorted(map(tuple, brute.select(*cols).collect()))
    assert a == b


def test_pandas_cosine_equals_jvm_fold(spark):
    """The Arrow/numpy mapInPandas scorer must reproduce the JVM
    zip_with/aggregate fold BIT-FOR-BIT (left-to-right dim
    accumulation), including rounding and rank tiebreaks."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.operators import similarity

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") < 5)
    pand = similarity.cosine_topk_pandas(emb, queries, k=5)
    brute = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    cols = ["query_id", "neighbor_id", "cos", "rank"]
    a = sorted(map(tuple, pand.select(*cols).collect()))
    b = sorted(map(tuple, brute.select(*cols).collect()))
    assert a == b


def test_orc_round_trip(spark, tmp_path):
    """Format breadth: a table round-trips through ORC (Spark's other
    native columnar format) value-identically."""
    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == orders.schema
    cols = sorted(orders.columns)
    assert sorted(map(tuple, back.select(*cols).collect())) == sorted(
        map(tuple, orders.select(*cols).collect())
    )


def test_dedup_clusters_multi_hop_chain(spark):
    """A path graph a-b-c-d needs multiple propagation rounds; every
    node must still land on the chain minimum, and exactly one doc
    per component is kept."""
    from bigdataflink_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (9, 11), (20, 21)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (2, 5, 9, 11, 20, 21, 40)], "doc_id long"
    )
    got = {r.doc_id: (r.cluster_rep, r.keep) for r in dedup_clusters(pairs, docs).collect()}
    assert got == {
        2: (2, True), 5: (2, False), 9: (2, False), 11: (2, False),
        20: (20, True), 21: (20, False),
        40: (40, True),  # singleton keeps itself
    }


def test_hash_split_stable_under_corpus_growth(spark):
    """A doc's split assignment must not change when the corpus grows
    — the no-contamination property. Also: splits are exhaustive,
    deterministic, and roughly proportioned."""
    from bigdataflink_spark.operators.sampling import hash_split

    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s_small = {r.doc_id: r.split for r in hash_split(small, "doc_id", fr).collect()}
    s_big = {r.doc_id: r.split for r in hash_split(big, "doc_id", fr).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())  # growth-stable
    counts = {}
    for v in s_big.values():
        counts[v] = counts.get(v, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 0.85 < counts["train"] / 5000 < 0.95


def test_hash_split_rejects_bad_fractions(spark):
    from bigdataflink_spark.operators.sampling import hash_split

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(spark.range(1).withColumnRenamed("id", "doc_id"), "doc_id", {"a": 0.5})


def test_redact_pii_tags_and_counts(spark):
    from bigdataflink_spark.operators import text as T

    df = spark.createDataFrame(
        [("mail a.b+c@x-y.co.uk and call 555-123-4567 or 020.7946.0958x",)],
        "t string",
    )
    row = df.select(T.redact_pii("t").alias("r"), *T.pii_counts("t")).collect()[0]
    assert row.r == "mail <EMAIL> and call <PHONE> or 020.7946.0958x"
    assert (row.n_emails, row.n_phones) == (1, 1)


def test_stratified_sample_nested_and_deterministic(spark):
    """Raising a stratum's rate must only ADD rows (nested snapshots),
    and membership must not depend on partitioning."""
    from bigdataflink_spark.operators.sampling import stratified_hash_sample

    docs = (
        spark.range(0, 2000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de"))
    )
    lo = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.2}, default_rate=0.5)
    hi = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.6}, default_rate=0.5)
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids
    assert len(hi_ids) > len(lo_ids)
    repart = {r.doc_id for r in
              stratified_hash_sample(docs.repartition(13), "doc_id", "lang",
                                     {"en": 0.2}, default_rate=0.5).collect()}
    assert repart == lo_ids
    with pytest.raises(ValueError, match="rate for"):
        stratified_hash_sample(docs, "doc_id", "lang", {"en": 1.5})


def test_ngram_containment_bounds(spark):
    """Exact benchmark copy -> containment 1.0; disjoint doc -> 0 hits
    (and still present in the output via the left join)."""
    from bigdataflink_spark.operators.dedup import ngram_containment

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta"),
            (11, "one two three four five six seven eight"),
            (12, "too short"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_containment(corpus, bench, ngram=5).collect()}
    assert set(rows) == {10, 11}  # doc 12 has < 5 tokens
    assert rows[10].containment == 1.0 and rows[10].n_hit == rows[10].n_grams == 3
    assert rows[11].containment == 0.0 and rows[11].n_hit == 0 and rows[11].n_grams == 4


def test_repetition_ratios_known_values(spark):
    from bigdataflink_spark.operators import text as T

    df = spark.createDataFrame([("a a a b",)], "t string")
    t = T.tokens("t")
    row = df.select(
        T.dup_token_ratio(t).alias("dup"),
        T.top_token_ratio(t).alias("top"),
        T.dup_ngram_ratio(t, 2).alias("bi"),
        T.dup_ngram_ratio(t, 5).alias("none"),
    ).collect()[0]
    assert row.dup == 0.5  # 2 distinct / 4 tokens
    assert row.top == 0.75  # 'a' x3 of 4
    assert abs(row.bi - (1 - 2 / 3)) < 1e-12  # bigrams: aa,aa,ab
    assert row.none is None  # < 5 tokens -> no 5-grams


def test_profile_counts_nulls_and_approx(spark):
    from bigdataflink_spark.operators.profiling import profile

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y"), (None, "x")], "a long, s string"
    )
    rows = {r.col_name: r for r in profile(df, ["a", "s"]).collect()}
    assert rows["a"].n_rows == 4 and rows["a"].n_null == 1 and rows["a"].n_distinct == 2
    assert rows["a"].min_num == 1.0 and rows["a"].max_num == 2.0
    assert rows["s"].n_null == 1 and rows["s"].n_distinct == 2
    assert rows["s"].min_num is None and rows["s"].max_num is None
    approx = {r.col_name: r for r in profile(df, ["a"], approximate=True).collect()}
    assert approx["a"].n_distinct >= 1  # HLL estimate present


def test_passages_chunking_and_edges(spark):
    from bigdataflink_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z"), (3, "")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r.p
        for r in df.select("doc_id", T.passages(T.tokens("text"), 3).alias("p")).collect()
    }
    assert rows[1] == ["a b c", "d e"]  # last passage shorter
    assert rows[2] == ["x y z"]
    assert rows[3] == []  # empty doc -> no phantom passage


def test_passage_dedup_stats_shared_spans(spark):
    from bigdataflink_spark.operators.text import passage_dedup_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),   # shares 'a b c' with doc 2
            (2, "a b c q r s"),
            (3, "u v w"),          # unique
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in passage_dedup_stats(docs, width=3).collect()}
    assert rows[1].n_passages == 2 and rows[1].n_shared == 1
    assert rows[1].dup_ratio == 0.5
    assert rows[2].n_shared == 1
    assert rows[3].n_shared == 0 and rows[3].dup_ratio == 0.0


def test_vocab_coverage_cumulative_cut(spark):
    from bigdataflink_spark.operators.text import vocab_coverage

    # 10 tokens: 'a' x7, 'b' x2, 'c' x1 -> 90% needs a+b (cum 9 = 9.0 exactly,
    # the strict < keeps rank 2 as the cover point)
    docs = spark.createDataFrame(
        [(1, "en", "a a a a a a a b b c")], "doc_id long, lang string, text string"
    )
    row = vocab_coverage(docs, coverage=0.9).collect()[0]
    assert row.n_terms == 3 and row.total_tokens == 10 and row.n_terms_cov == 2


def test_knn_label_vote_majority_and_ties(spark):
    from bigdataflink_spark.operators.similarity import knn_label_vote

    # axis-aligned vectors: query is [1,0]; neighbors at decreasing cosine
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 9),
            (1, [0.9, 0.1], 5),
            (2, [0.9, 0.2], 5),
            (3, [0.8, 0.3], 7),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    queries = corpus.filter("vec_id = 0")
    row = knn_label_vote(corpus, queries, k=3).collect()[0]
    assert row.query_id == 0 and row.label == 9
    assert row.pred_label == 5 and row.votes == 2


def test_scd2_history_versions_and_nulls(spark):
    from bigdataflink_spark.operators.scd import scd2_history
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [
            # key 1: a -> a (no change) -> b -> NULL -> NULL (no change) -> a
            (1, "a", 100, 1),
            (1, "a", 200, 2),
            (1, "b", 300, 3),
            (1, None, 400, 4),
            (1, None, 500, 5),
            (1, "a", 600, 6),
            # key 2: single observation stays open
            (2, "z", 150, 7),
        ],
        "k long, attr string, t long, seq long",
    )
    ev = ev.withColumn("ts", F.timestamp_micros("t"))
    hist = scd2_history(ev, "k", "attr", "ts", "seq")
    rows = sorted(
        (r.k, r.version, r.attr, r.valid_from_us, r.valid_to_us)
        for r in hist.collect()
    )
    assert rows == [
        (1, 1, "a", 100, 300),
        (1, 2, "b", 300, 400),
        (1, 3, None, 400, 600),
        (1, 4, "a", 600, None),
        (2, 1, "z", 150, None),
    ]


def test_qgram_match_resolves_deletions_and_ties(spark):
    from bigdataflink_spark.operators.fuzzy import char_qgrams, qgram_match

    clean = spark.createDataFrame(
        [(1, "spark data engine"), (2, "spark data engines"), (3, "unrelated")],
        "id long, name string",
    )
    dirty = spark.createDataFrame(
        [(10, "spark dat engine"),   # one deletion from id 1 (dist 1) and 2 (dist 2)
         (11, "zzzzzz")],             # no candidate
        "did long, dname string",
    )
    rows = {r.did: (r.id, r.dist) for r in qgram_match(dirty, clean).collect()}
    assert rows == {10: (1, 1)}

    grams = clean.select(char_qgrams("name").alias("g")).collect()[0].g
    assert "spar" in grams and len(grams) == len(set(grams))
    short = spark.createDataFrame([("abc",)], "s string")
    assert short.select(char_qgrams("s").alias("g")).collect()[0].g == []


def test_gap_fill_fills_gaps_and_forward_fills(spark):
    from bigdataflink_spark.operators.timeseries import gap_fill

    # user 1: events at hours 0 and 3 -> slots 1,2 are gaps that must
    # appear with n_events=0, v_sum NULL, v_ffill carried from hour 0.
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 5.0),
            (1, "2024-01-01 00:40:00", 2.5),
            (1, "2024-01-01 03:05:00", 1.0),
            (2, "2024-01-01 00:00:00", 9.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = gap_fill(ev, "user_id", "ts", "value", "hour")
    rows = {
        (r.user_id, r.slot_us): (r.n_events, r.v_sum, r.v_ffill)
        for r in out.collect()
    }
    hour = 3_600_000_000
    base = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC in micros
    assert len(rows) == 5  # user 1: 4 slots, user 2: 1 slot
    assert rows[(1, base)] == (2, 7.5, 7.5)
    assert rows[(1, base + hour)] == (0, None, 7.5)
    assert rows[(1, base + 2 * hour)] == (0, None, 7.5)
    assert rows[(1, base + 3 * hour)] == (1, 1.0, 1.0)
    assert rows[(2, base)] == (1, 9.0, 9.0)


def test_zscore_flags_known_outlier(spark):
    from bigdataflink_spark.operators.timeseries import zscore_flags

    vals = [("a", 10.0)] * 10 + [("a", 10.5)] * 10 + [("a", 1000.0), ("b", 1.0), ("b", 2.0)]
    df = spark.createDataFrame(vals, "event_type string, value double")
    out = {r.event_type: r for r in zscore_flags(df, "event_type", "value", 2.0).collect()}
    # the single 1000.0 is the only |z| > 2 member of group a
    assert out["a"].n == 21 and out["a"].anomalies == 1
    # two-point group: each point is exactly 0.707 std from the mean
    assert out["b"].n == 2 and out["b"].anomalies == 0


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from bigdataflink_spark.operators.zorder import write_zordered
    from bigdataflink_spark.sources.formats import write_sharded

    ev = load_table(spark, "events", "/root/testdata/sf0.01").select(
        "event_id", "user_id", "value"
    )

    def span_fraction(path, col):
        """Mean per-file (max-min)/global_span for col — 1.0 means every
        file covers the whole range (no pruning possible)."""
        files = sorted(glob.glob(path + "/part-*.parquet"))
        assert len(files) >= 4
        spans, glo, ghi = [], None, None
        for f in files:
            c = pq.read_table(f, columns=[col]).column(col).to_pylist()
            spans.append((min(c), max(c)))
            glo = min(glo, *c) if glo is not None else min(c)
            ghi = max(ghi, *c) if ghi is not None else max(c)
        width = ghi - glo
        return sum((hi - lo) / width for lo, hi in spans) / len(spans)

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "single")
    write_zordered(ev, zpath, ["user_id", "value"], 1000)
    write_sharded(ev, spath, ["user_id"], 1000)

    # single-column sort: user_id clusters perfectly, value doesn't
    # (value is heavy-tailed, so even random 1000-row files only span
    # ~0.6 of the outlier-driven global range — compare, don't absolutize)
    sf_user, sf_value = span_fraction(spath, "user_id"), span_fraction(spath, "value")
    assert sf_user < 0.15 and sf_value > 0.5, (sf_user, sf_value)
    # z-order: BOTH columns get usable file-level locality, and the
    # non-sort dimension improves at least 2x over the single sort
    zf_user = span_fraction(zpath, "user_id")
    zf_value = span_fraction(zpath, "value")
    assert zf_user < 0.35 and zf_value < 0.35, (zf_user, zf_value)
    assert zf_value < sf_value / 2
    # and the payload column round-trips completely
    assert spark.read.parquet(zpath).count() == ev.count()


def test_bruteforce_guard_trips_above_limit(spark):
    """VERDICT r2 #3: the O(n²) oracle tools refuse large corpora
    mechanically, with a pointer to the bucketed scale path."""
    from bigdataflink_spark.operators.similarity import (
        BRUTEFORCE_MAX_ROWS,
        cosine_neardup_pairs,
    )

    big = spark.range(BRUTEFORCE_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="sign_lsh_neardup_pairs"):
        cosine_neardup_pairs(big)

    small = big.limit(8)
    assert cosine_neardup_pairs(small, threshold=0.99).count() == 28  # C(8,2)


def test_sign_lsh_auto_band_width(spark):
    """Default rows_per_band derives ⌈log2 n⌉ clamped to
    [4, dim // bands] — the r2 scale fix: bucket count tracks corpus
    size so candidates stay ~linear."""
    from bigdataflink_spark.operators.similarity import (
        auto_rows_per_band,
        sign_lsh_neardup_pairs,
    )

    assert auto_rows_per_band(2_000, 64, 4) == 11
    assert auto_rows_per_band(200_000, 64, 4) == 16  # capped at dim//bands
    assert auto_rows_per_band(10, 64, 4) == 4  # floor
    assert auto_rows_per_band(1 << 40, 64, 4) == 16  # cap survives huge n

    from bigdataflink_spark.operators.similarity import cosine_neardup_pairs

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_neardup_pairs(emb, threshold=0.4).collect()
    }
    for cfg in (
        sign_lsh_neardup_pairs(emb, threshold=0.4),  # auto config
        sign_lsh_neardup_pairs(emb, threshold=0.4, rows_per_band=4),
    ):
        got = {(r["id_a"], r["id_b"]): r["cos"] for r in cfg.collect()}
        # LSH recalls a SUBSET of the exact pairs; every recalled pair
        # carries the exact cosine
        assert set(got).issubset(set(exact))
        assert all(exact[k] == v for k, v in got.items())
        assert got  # non-degenerate: something recalled at 0.4


def test_pcm16_codec_roundtrip_and_downmix(spark):
    """Raw-PCM16 tier (r3): decode is byte-faithful, stats are
    integer-exact, and downmix floor-divides (numpy floor_divide
    semantics on negatives — -3//2 == -2 in magnitude toward -inf)."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        audio_channel_stats,
        decode_pcm16,
        downmix_mono,
        synthetic_pcm_audio,
    )

    docs = spark.createDataFrame([(5,), (9,)], "doc_id long")
    media = synthetic_pcm_audio(docs, n_samples=6, channels=2)
    rows = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    # wire bytes match the closed form, decode reshapes losslessly
    for mid, payload in rows.items():
        want = ((mid * 31 + np.arange(12)) % 65536 - 32768).astype("<i2")
        assert payload == want.tobytes()
        assert (decode_pcm16(payload, 2).ravel() == want).all()

    stats = {
        (r["media_id"], r["channel"]): r
        for r in audio_channel_stats(media, channels=2).collect()
    }
    for mid, payload in rows.items():
        arr = decode_pcm16(payload, 2).astype(np.int64)
        for c in (0, 1):
            got = stats[(mid, c)]
            assert got["sum_amp"] == arr[:, c].sum()
            assert got["energy"] == (arr[:, c] ** 2).sum()

    mono = downmix_mono(media, channels=2)
    for r in mono.collect():
        src = decode_pcm16(rows[r["media_id"]], 2).astype(np.int64)
        want = np.floor_divide(src.sum(axis=1), 2).astype("<i2")
        assert bytes(r["payload"]) == want.tobytes()

    # a negative odd sum floors toward -inf, not zero
    assert np.floor_divide(np.array([-3]), 2)[0] == -2


def test_fuzzy_auto_q_derivation(spark):
    """auto_q grows the gram width with corpus size so the gram space
    out-cards the corpus (the r3 100x probe's q101 stall: fixed q=4
    over 600k hex strings ~ 4e8 candidate pairs), and output is
    q-independent (exact-recall bound)."""
    from bigdataflink_spark.operators.fuzzy import auto_q, qgram_match

    assert auto_q(6_000, 16, 32) == 5       # 16^5 = 1M >= 64*6k
    assert auto_q(600_000, 16, 32) == 7     # 16^7 = 268M >= 38.4M
    assert auto_q(10, 16, 32) == 4          # floor
    assert auto_q(600_000, 16, 5) == 5      # capped at min string len
    assert auto_q(100, 2, 32) == 13         # tiny alphabet forces long grams

    clean = spark.createDataFrame(
        [(1, "alphabet"), (2, "alphabravo"), (3, "charlie")], ["id", "name"]
    )
    dirty = spark.createDataFrame(
        [(10, "alpabet"), (11, "charli")], ["did", "dname"]
    )
    auto = {
        (r.did, r.id, r.dist) for r in qgram_match(dirty, clean).collect()
    }
    pinned = {
        (r.did, r.id, r.dist) for r in qgram_match(dirty, clean, q=4).collect()
    }
    assert auto == pinned == {(10, 1, 1), (11, 3, 1)}


def test_expectations_engine_catches_violations(spark):
    """Each expectation type fires on crafted dirty data: dup PKs,
    orphan FKs, nulls, out-of-range, bad domain, bad format."""
    from bigdataflink_spark.operators.expectations import check_expectations

    df = spark.createDataFrame(
        [
            (1, 10, "A", 5.0, "ok_1"),
            (1, 10, "A", 5.0, "ok_2"),      # dup PK (1 extra row)
            (2, 99, "B", -3.0, "bad fmt"),  # orphan FK, range, domain, regex
            (3, None, "A", 5.0, "ok_3"),    # null FK (not an fk violation)
        ],
        "pk long, fk long, status string, v double, tag string",
    )
    ref = spark.createDataFrame([(10,), (11,)], "rk long")
    rules = [
        {"rule": "fk_not_null", "type": "not_null", "col": "fk"},
        {"rule": "v_range", "type": "range", "col": "v", "lo": 0, "hi": 10},
        {"rule": "status_dom", "type": "values_in", "col": "status", "values": ["A"]},
        {"rule": "tag_fmt", "type": "regex", "col": "tag", "pattern": "^ok_[0-9]$"},
        {"rule": "pk_uni", "type": "unique", "cols": ["pk"]},
        {"rule": "fk_ref", "type": "fk", "col": "fk", "ref_col": "rk"},
    ]
    got = {
        r["rule"]: (r["n_checked"], r["n_violations"], r["passed"])
        for r in check_expectations(df, rules, refs={"fk_ref": ref}).collect()
    }
    assert got == {
        "fk_not_null": (4, 1, False),
        "v_range": (4, 1, False),
        "status_dom": (4, 1, False),
        "tag_fmt": (4, 1, False),
        "pk_uni": (4, 1, False),
        "fk_ref": (4, 1, False),
    }


def test_qgram_match_short_string_recall(spark):
    """The round-4 recall fix: strings below the prefix-filter
    guarantee threshold (shorter than q·(max_dist+1), or with <=
    q·max_dist distinct grams) must still resolve — the length-window
    fallback block catches the pairs gram blocking provably cannot.
    Verified against a driver-side brute-force Levenshtein reference
    over every (dirty, clean) pair, at a deliberately oversized q."""
    from bigdataflink_spark.operators.fuzzy import qgram_match

    clean_rows = [
        (1, "ab"),            # zero 4-grams
        (2, "abc"),           # zero 4-grams
        (3, "abcdef"),        # 3 grams <= q*k = 8: degenerate
        (4, "aaaaaaaaaaaa"),  # long but 1 distinct gram: degenerate
        (5, "kitten-sitting-mittens"),  # above threshold
        (6, "zq"),            # short, far from everything dirty
    ]
    dirty_rows = [
        (10, "ba"),            # ed("ba","ab")=2 -> 1
        (11, "abcd"),          # ed 1 to "abc" (3), ed 2 to "ab"(1): best 3
        (12, "abdcef"),        # ed 2 to "abcdef"
        (13, "aaaaaaaaaa"),    # ed 2 to the a-run
        (14, "kitten-sitting-mitten"),  # ed 1 to 5
        (15, "qqqqqqqq"),      # no match within 2
        (16, "a"),             # ed 1 to "ab": matches 1
    ]
    clean = spark.createDataFrame(clean_rows, "id long, name string")
    dirty = spark.createDataFrame(dirty_rows, "did long, dname string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    expect = {}
    for did, dn in dirty_rows:
        best = None
        for cid, cn in clean_rows:
            d = lev(dn, cn)
            if d <= 2 and (best is None or (d, cid) < best):
                best = (d, cid)
        if best is not None:
            expect[did] = (best[1], best[0])

    got = {
        r.did: (r.id, r.dist)
        for r in qgram_match(dirty, clean, q=4, max_dist=2).collect()
    }
    assert got == expect
    # and the auto-q path resolves the same corpus identically
    got_auto = {
        r.did: (r.id, r.dist)
        for r in qgram_match(dirty, clean, max_dist=2).collect()
    }
    assert got_auto == expect


def test_qgram_match_empty_clean_corpus(spark):
    """q=None with an empty reference set: empty result with the
    contract schema, not a TypeError on min_len."""
    from bigdataflink_spark.operators.fuzzy import qgram_match

    clean = spark.createDataFrame([], "id long, name string")
    dirty = spark.createDataFrame([(1, "abc")], "did long, dname string")
    out = qgram_match(dirty, clean)
    assert out.columns == ["did", "id", "dist"]
    assert out.count() == 0


def test_png_codec_roundtrip_all_filters():
    """Real PNG codec (stdlib zlib + numpy): every scanline filter
    type round-trips bit-exactly, including mixed per-line filters
    (what real encoders emit)."""
    import struct
    import zlib

    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        png_decode,
        png_encode,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    for ft in range(5):
        assert (png_decode(png_encode(img, filter_type=ft)) == img).all()

    # mixed filters: hand-assemble an IDAT whose line y uses filter y%5
    h, w = img.shape[:2]
    rows = img.reshape(h, w * 3)
    pieces = []
    for y in range(h):
        one = png_encode(img[y : y + 1], filter_type=y % 5)
        # pull the single filtered scanline back out of the 1-row PNG
        pos, raw = 8, None
        while pos < len(one):
            (ln,) = struct.unpack(">I", one[pos : pos + 4])
            if one[pos + 4 : pos + 8] == b"IDAT":
                raw = zlib.decompress(one[pos + 8 : pos + 8 + ln])
            pos += 12 + ln
        if y % 5 in (2, 3, 4):
            # up/avg/paeth against a zero prev row in the 1-row PNG;
            # recompute against the true prev row instead
            prev = rows[y - 1] if y else np.zeros(w * 3, np.uint8)
            cur = rows[y]
            if y % 5 == 2:
                filt = (cur.astype(np.int16) - prev).astype(np.uint8)
            elif y % 5 == 3:
                left = np.concatenate([np.zeros(3, np.uint8), cur[:-3]])
                filt = (
                    cur.astype(np.int16)
                    - (left.astype(np.int16) + prev.astype(np.int16)) // 2
                ).astype(np.uint8)
            else:
                from bigdataflink_spark.operators.multimodal import _paeth

                left = np.concatenate([np.zeros(3, np.uint8), cur[:-3]])
                upleft = np.concatenate([np.zeros(3, np.uint8), prev[:-3]])
                filt = (
                    cur.astype(np.int16) - _paeth(left, prev, upleft)
                ).astype(np.uint8)
            raw = bytes([y % 5]) + filt.tobytes()
        pieces.append(raw)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    mixed = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(pieces)))
        + _png_chunk(b"IEND", b"")
    )
    assert (png_decode(mixed) == img).all()


def test_png_codec_rejects_corruption():
    import numpy as np
    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import png_decode, png_encode

    img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    good = png_encode(img)
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside a chunk -> CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(bad))
    with _pytest.raises(ValueError, match="signature"):
        png_decode(b"GIF89a" + good)


def test_wav_container_roundtrip_and_tolerance():
    """Real RIFF/WAVE container: bit-exact PCM16 round-trip, unknown
    chunks skipped with word alignment, malformed files rejected."""
    import struct

    import numpy as np
    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import wav_decode, wav_encode

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, (401, 2), dtype=np.int16)
    b = wav_encode(s, 8000)
    back, rate = wav_decode(b)
    assert (back == s).all() and rate == 8000

    # an odd-length LIST chunk between fmt and data (word-aligned pad)
    chunks = b[12:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    nb = b"WAVE" + chunks[:24] + extra + chunks[24:]
    back2, _ = wav_decode(b"RIFF" + struct.pack("<I", len(nb)) + nb)
    assert (back2 == s).all()

    with _pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"OggS" + b[4:])
    with _pytest.raises(NotImplementedError, match="PCM"):
        bad = bytearray(b)
        bad[20] = 3  # tag -> IEEE float but bits stay 16: gated
        wav_decode(bytes(bad))


def test_wav_non_pcm16_formats_roundtrip():
    """Round-8 WAV profiles (VERDICT r7 #5): 24-bit int PCM (3-byte
    LE, sign-extended decode), IEEE float32 (bit-exact), and
    WAVE_FORMAT_EXTENSIBLE wrappers; A-law stays gated."""
    import struct

    import numpy as np
    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import wav_decode, wav_encode

    rng = np.random.default_rng(12)
    s24 = rng.integers(-(1 << 23), 1 << 23, (401, 2), dtype=np.int32)
    d24, r = wav_decode(wav_encode(s24, 16000, fmt="pcm24"))
    assert d24.dtype == np.int32 and (d24 == s24).all() and r == 16000
    # full-range extremes force the sign-extension path
    edge = np.array([[-(1 << 23)], [(1 << 23) - 1], [0], [-1]],
                    dtype=np.int32)
    dedge, _ = wav_decode(wav_encode(edge, 8000, fmt="pcm24"))
    assert (dedge == edge).all()
    with _pytest.raises(AssertionError, match="24 bits"):
        wav_encode(np.array([[1 << 23]], dtype=np.int32), fmt="pcm24")

    f32 = (rng.standard_normal((300, 2)) * 0.7).astype(np.float32)
    df, r = wav_decode(wav_encode(f32, 44100, fmt="float32"))
    assert df.dtype == np.float32 and (df == f32).all() and r == 44100

    # EXTENSIBLE wrapping 24-bit PCM: the subformat GUID's leading
    # u16 is the classic tag
    guid = struct.pack("<H", 1) + bytes.fromhex(
        "0000000010008000 00aa00389b71".replace(" ", "")
    )
    fmtc = (
        struct.pack("<HHIIHH", 0xFFFE, 2, 16000, 16000 * 6, 6, 24)
        + struct.pack("<HHI", 22, 24, 3)
        + guid
    )
    le = np.ascontiguousarray(s24.astype("<i4")).view(np.uint8)
    data = le.reshape(-1, 4)[:, :3].tobytes()
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmtc)) + fmtc
        + b"data" + struct.pack("<I", len(data)) + data
    )
    dx, _ = wav_decode(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (dx == s24).all()

    # G.711 A-law/u-law (tags 6/7) decode via the ITU closed-form
    # LUTs - differential-tested over ALL 256 codes against golden
    # values precomputed from stdlib audioop (the C reference impl,
    # removed in Python 3.13 — values baked in, r9 verdict nit #3).
    # Both laws are sign-symmetric: code c+128 decodes to -decode(c)'s
    # magnitude with the opposite sign, so the positive half (codes
    # 128-255) pins the full table.
    _ALAW_POS = [
        5504, 5248, 6016, 5760, 4480, 4224, 4992, 4736, 7552, 7296,
        8064, 7808, 6528, 6272, 7040, 6784, 2752, 2624, 3008, 2880,
        2240, 2112, 2496, 2368, 3776, 3648, 4032, 3904, 3264, 3136,
        3520, 3392, 22016, 20992, 24064, 23040, 17920, 16896, 19968,
        18944, 30208, 29184, 32256, 31232, 26112, 25088, 28160, 27136,
        11008, 10496, 12032, 11520, 8960, 8448, 9984, 9472, 15104,
        14592, 16128, 15616, 13056, 12544, 14080, 13568, 344, 328,
        376, 360, 280, 264, 312, 296, 472, 456, 504, 488, 408, 392,
        440, 424, 88, 72, 120, 104, 24, 8, 56, 40, 216, 200, 248,
        232, 152, 136, 184, 168, 1376, 1312, 1504, 1440, 1120, 1056,
        1248, 1184, 1888, 1824, 2016, 1952, 1632, 1568, 1760, 1696,
        688, 656, 752, 720, 560, 528, 624, 592, 944, 912, 1008, 976,
        816, 784, 880, 848,
    ]
    _ULAW_POS = [
        32124, 31100, 30076, 29052, 28028, 27004, 25980, 24956,
        23932, 22908, 21884, 20860, 19836, 18812, 17788, 16764,
        15996, 15484, 14972, 14460, 13948, 13436, 12924, 12412,
        11900, 11388, 10876, 10364, 9852, 9340, 8828, 8316, 7932,
        7676, 7420, 7164, 6908, 6652, 6396, 6140, 5884, 5628, 5372,
        5116, 4860, 4604, 4348, 4092, 3900, 3772, 3644, 3516, 3388,
        3260, 3132, 3004, 2876, 2748, 2620, 2492, 2364, 2236, 2108,
        1980, 1884, 1820, 1756, 1692, 1628, 1564, 1500, 1436, 1372,
        1308, 1244, 1180, 1116, 1052, 988, 924, 876, 844, 812, 780,
        748, 716, 684, 652, 620, 588, 556, 524, 492, 460, 428, 396,
        372, 356, 340, 324, 308, 292, 276, 260, 244, 228, 212, 196,
        180, 164, 148, 132, 120, 112, 104, 96, 88, 80, 72, 64, 56,
        48, 40, 32, 24, 16, 8, 0,
    ]
    codes = bytes(range(256))
    goldens = {
        6: np.array([-v for v in _ALAW_POS] + _ALAW_POS, dtype=np.int16),
        7: np.array([-v for v in _ULAW_POS] + _ULAW_POS, dtype=np.int16),
    }
    for tag, ref in goldens.items():
        fmtc = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmtc)) + fmtc
            + b"data" + struct.pack("<I", 256) + codes
        )
        dec, rate = wav_decode(
            b"RIFF" + struct.pack("<I", len(body)) + body
        )
        assert dec.dtype == np.int16 and (dec.ravel() == ref).all(), tag

    # 8-bit unsigned PCM (round 9, VERDICT r8 #2): stored offset-128,
    # decoded to full-scale int16 — (u-128)<<8 is exactly the
    # bias+width-shift audioop.lin2lin(bias(u,1,-128),1,2) computes
    # (verified against it before the golden bake-in)
    u8 = rng.integers(0, 256, (257, 2), dtype=np.uint8)
    d8, r8 = wav_decode(wav_encode(u8, 22050, fmt="pcm8"))
    exp8 = (u8.astype(np.int16) - 128) << 8
    assert d8.dtype == np.int16 and (d8 == exp8).all() and r8 == 22050
    ref8 = (np.arange(256, dtype=np.int16) - 128) << 8
    all_codes = np.arange(256, dtype=np.uint8).reshape(-1, 1)
    dall, _ = wav_decode(wav_encode(all_codes, 8000, fmt="pcm8"))
    assert (dall.ravel() == ref8).all()

    # an unknown tag still gates honestly
    fmt9 = struct.pack("<HHIIHH", 9, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt9)) + fmt9
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(NotImplementedError, match="format 9"):
        wav_decode(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_semantic_dedup_first_arrival_wins(spark):
    """semantic_dedup: within-cell drops at the threshold, cross-cell
    near-dups untouched, first arrival (smallest id) kept."""
    from bigdataflink_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0], "a"),   # kept (first in cell a)
        (2, [1.0, 0.01], "a"),  # ~same direction as 1 -> dropped
        (3, [0.0, 1.0], "a"),   # orthogonal -> kept
        (4, [1.0, 0.0], "b"),   # identical to 1 but other cell -> kept
        (5, [0.0, 1.01], "a"),  # ~same as 3 -> dropped
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = {
        r.id: r.dropped
        for r in semantic_dedup(emb, threshold=0.95).collect()
    }
    assert got == {1: False, 2: True, 3: False, 4: False, 5: True}


def test_png_media_uses_real_codec_in_dispatch(spark):
    """Round-4 routing fix: resize_images must send image/png through
    the real codec, not the sha256 fake."""
    import numpy as np

    media = multimodal.synthetic_png_media(_rgb_docs(spark, [9]), width=16, height=12)
    img = ((9 * 31 + np.arange(16 * 12 * 3)) % 256).astype(np.uint8).reshape(12, 16, 3)

    small = multimodal.resize_images(media, width=7, height=5).collect()[0]
    from bigdataflink_spark.operators.multimodal import png_decode

    ys, xs = (np.arange(5) * 12) // 5, (np.arange(7) * 16) // 7
    assert (png_decode(bytes(small.payload)) == img[np.ix_(ys, xs)]).all()
    assert (small.width, small.height) == (7, 5)


def test_jpeg_codec_roundtrip_contracts():
    """Real baseline JPEG: exact on constant blocks (DC-only), tight
    error on smooth gradients, structurally valid JFIF, malformed
    input rejected, odd (non-multiple-of-8) dims preserved."""
    import numpy as np
    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import jpeg_decode, jpeg_encode

    const = np.full((16, 16, 3), 77, dtype=np.uint8)
    assert (jpeg_decode(jpeg_encode(const, 90)) == const).all()

    y, x = np.mgrid[0:24, 0:32]
    grad = np.stack([(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=2).astype(np.uint8)
    back = jpeg_decode(jpeg_encode(grad, 90))
    assert back.shape == grad.shape
    assert np.abs(back.astype(int) - grad.astype(int)).mean() < 2.0

    rng = np.random.default_rng(5)
    odd = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    back2 = jpeg_decode(jpeg_encode(odd, 95))
    assert back2.shape == (17, 19, 3)
    assert np.abs(back2.astype(int) - odd.astype(int)).mean() < 8.0

    b = jpeg_encode(const)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    with _pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x89PNG" + b[4:])


def test_jpeg_dispatch_features_and_resize(spark):
    """image/jpeg routes through the real codec in the resize
    dispatch: a real decode -> resize -> re-encode."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        JPEG_IMAGE,
        jpeg_decode,
        jpeg_encode,
    )

    src = np.stack(
        [np.tile(np.arange(0, 160, 10, dtype=np.uint8), (16, 1))] * 3, axis=2
    )
    payload = jpeg_encode(src, 95)
    media = spark.createDataFrame(
        [(1, "image", bytearray(payload), JPEG_IMAGE, 16, 16, None)],
        MEDIA_SCHEMA,
    )
    small = multimodal.resize_images(media, width=8, height=8).collect()[0]
    out = jpeg_decode(bytes(small.payload))
    assert out.shape == (8, 8, 3)


def test_sign_lsh_nbits_never_exceeds_dim(spark):
    """ADVICE r4: when the band layout can't fit the vector dimension,
    overhanging bands must be DROPPED (never slice past the end — an
    empty bsig collapses a band into one global quadratic bucket),
    and a band width wider than the vectors is a refusal, not silent
    degradation. semantic_dedup with dim < bands stays on the exact
    within-cell path and its verdicts still match the EXISTS oracle."""
    from bigdataflink_spark.operators.similarity import (
        semantic_dedup,
        sign_lsh_neardup_pairs,
    )

    # dim=8, bands=4 with an explicit width of 4 fits only 2 bands —
    # the call still works and only ever compares real sign bits
    emb8 = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0]),
            (2, [1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0]),
            (3, [-1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in sign_lsh_neardup_pairs(
            emb8, threshold=0.9, bands=4, rows_per_band=4
        ).collect()
    }
    assert pairs == {(1, 2)}

    with pytest.raises(ValueError, match="bits per band"):
        sign_lsh_neardup_pairs(emb8, threshold=0.9, bands=1, rows_per_band=9)

    # dim=2 < bands=4: a forced-LSH cell (exact_cell_limit=1) must
    # fall back to exact pairing, not degrade to '' band signatures
    emb2 = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "c"),
            (2, [1.0, 0.01], "c"),
            (3, [-1.0, 0.0], "c"),
            (4, [0.0, 1.0], "d"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    got = {
        r["id"]: r["dropped"]
        for r in semantic_dedup(
            emb2, threshold=0.95, exact_cell_limit=1
        ).collect()
    }
    assert got == {1: False, 2: True, 3: False, 4: False}


def test_jpeg_round5_bit_identity_and_wild_profiles():
    """Round-5 codec work: (a) the vectorized entropy coder emits a
    BIT-IDENTICAL stream to the round-4 encoder at default parameters
    (golden md5 pins captured before the rewrite); (b) 4:2:0 / 4:2:2
    chroma subsampling and DRI/RSTn restart intervals round-trip
    within the lossy contract; (c) an out-of-sequence restart marker
    and a mid-scan truncation both raise instead of desyncing."""
    import hashlib

    import numpy as np
    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import jpeg_decode, jpeg_encode

    ks = np.arange(16 * 12 * 3, dtype=np.int64)
    golden = {
        0: "8e38620b7009d2e9e7c88542f213cd98",
        5: "cffc0984edfc98dde5ba2dc2f79ccacc",
        13: "d0b561e9b4369f82cba0c6b46407851b",
        250: "4228119254f1d650baf8bf5149e23c86",
    }
    for i, want in golden.items():
        src = ((i * 31 + ks) % 256).astype(np.uint8).reshape(12, 16, 3)
        assert hashlib.md5(jpeg_encode(src, quality=90)).hexdigest() == want
    big = ((np.arange(64 * 48 * 3) * 7 + 3) % 256).astype(np.uint8).reshape(48, 64, 3)
    assert (
        hashlib.md5(jpeg_encode(big, quality=75)).hexdigest()
        == "59b63df0d055c16e7a77f67f55e7ac8c"
    )

    for sub, ri in (("420", 0), ("420", 2), ("422", 0), ("422", 3), ("444", 1)):
        for i in (0, 5, 999):
            src = ((i * 31 + ks) % 256).astype(np.uint8).reshape(12, 16, 3)
            back = jpeg_decode(
                jpeg_encode(src, subsample=sub, restart_interval=ri)
            )
            assert back.shape == src.shape
            assert np.abs(back.astype(int) - src.astype(int)).mean() < 8.0

    # odd dims under 4:2:0 (padding covers a full 16x16 MCU)
    rng = np.random.default_rng(7)
    odd = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    back = jpeg_decode(jpeg_encode(odd, quality=95, subsample="420"))
    assert back.shape == (17, 19, 3)

    src = ((5 * 31 + ks) % 256).astype(np.uint8).reshape(12, 16, 3)
    enc = jpeg_encode(src, restart_interval=1)  # 4 MCUs at 4:4:4
    sos = enc.find(b"\xff\xda")
    i = enc.find(b"\xff\xd0", sos)  # first RST0 inside the scan
    assert i != -1
    bad = enc[: i + 1] + b"\xd3" + enc[i + 2 :]
    with _pytest.raises(ValueError, match="restart marker"):
        jpeg_decode(bad)

    with _pytest.raises(ValueError, match="marker inside scan"):
        jpeg_decode(jpeg_encode(src)[:-32] + b"\xff\xd9")


def test_jpeg_foreign_scan_order_and_grayscale():
    """ADVICE r4: planes must map by COMPONENT ID against the SOF
    order — a compliant file whose SOS lists components as Cr,Cb,Y
    (and whose scan interleaves blocks in that order) must decode to
    the SAME pixels as the canonical Y,Cb,Cr ordering, not swap
    channels. Also: 1-component (grayscale) files decode to
    replicated RGB."""
    import struct

    import numpy as np

    from bigdataflink_spark.operators import multimodal as mm

    ks = np.arange(16 * 12 * 3, dtype=np.int64)
    src = ((9 * 31 + ks) % 256).astype(np.uint8).reshape(12, 16, 3)
    canonical = mm.jpeg_decode(mm.jpeg_encode(src, quality=90))

    # rebuild the same file with the scan (and SOS) in Cr,Cb,Y order
    h, w = 12, 16
    qlum, qchr = mm._quant_tables(90)
    f = src.astype(np.float64)
    y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128
    cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128
    planes = [np.clip(p, 0, 255) - 128.0 for p in (y, cb, cr)]
    H, W = 16, 16
    planes = [np.pad(p, ((0, H - h), (0, W - w)), mode="edge") for p in planes]
    zzs = [
        mm._zigzag_quant_blocks(planes[0], qlum),
        mm._zigzag_quant_blocks(planes[1], qchr),
        mm._zigzag_quant_blocks(planes[2], qchr),
    ]
    dc_l, dc_c = mm._huff_codes(*mm._H_DC_LUM), mm._huff_codes(*mm._H_DC_CHR)
    ac_l, ac_c = mm._huff_codes(*mm._H_AC_LUM), mm._huff_codes(*mm._H_AC_CHR)
    order = [2, 1, 0]  # Cr, Cb, Y by plane index
    dhs = {0: dc_l, 1: dc_c, 2: dc_c}
    ahs = {0: ac_l, 1: ac_c, 2: ac_c}
    bw = mm._BitWriter()
    dc_prev = {0: 0, 1: 0, 2: 0}
    for by in range(2):
        for bx in range(2):
            for ci in order:
                dc_prev[ci] = mm._emit_block(
                    zzs[ci][by][bx], dc_prev[ci], dhs[ci], ahs[ci], bw
                )
    scan = bw.flush()
    sof = mm._seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    # SOS lists 3 (Cr), 2 (Cb), 1 (Y) — matching the scan interleave
    sos = mm._seg(0xDA, bytes([3, 3, 0x11, 2, 0x11, 1, 0x00, 0, 63, 0]))
    app0 = mm._seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    foreign = (
        b"\xff\xd8" + app0 + mm._dqt_segments(90) + mm._dht_segments()
        + sof + sos + scan + b"\xff\xd9"
    )
    assert (mm.jpeg_decode(foreign) == canonical).all()

    # grayscale: single-component SOF/SOS, constant plane decodes exact
    gray_plane = np.full((16, 16), 100.0) - 128.0
    zzg = mm._zigzag_quant_blocks(gray_plane, qlum)
    bw = mm._BitWriter()
    dcp = 0
    for by in range(2):
        for bx in range(2):
            dcp = mm._emit_block(zzg[by][bx], dcp, dc_l, ac_l, bw)
    sofg = mm._seg(0xC0, struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]))
    sosg = mm._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    gray_file = (
        b"\xff\xd8" + app0 + mm._dqt_segments(90) + mm._dht_segments()
        + sofg + sosg + bw.flush() + b"\xff\xd9"
    )
    out = mm.jpeg_decode(gray_file)
    assert out.shape == (16, 16, 3)
    assert (out == 100).all()


def test_sign_lsh_empty_corpus_short_circuits(spark):
    """ADVICE r5 (low): an empty corpus (dim resolves to 0) returns an
    empty pair frame — even with an explicit rows_per_band that the
    dim guard would otherwise reject against dim=0."""
    from bigdataflink_spark.operators.similarity import sign_lsh_neardup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = sign_lsh_neardup_pairs(empty, threshold=0.4, rows_per_band=4)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cos"]


def test_png_wild_profile_roundtrips():
    """Round-4 task #1 (PNG half): every 8-bit color type the encoder
    emits round-trips byte-exactly through png_decode — grayscale (0),
    RGB (2), palette (3, expanded through PLTE like a real decoder),
    gray+alpha (4), RGBA (6) — under every scanline filter, on both
    the loop path (fixture-width rows) and the vectorized Sub/Up path
    (stride >= _PNG_VEC_STRIDE)."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _PNG_VEC_STRIDE,
        png_decode,
        png_encode,
    )

    rng = np.random.RandomState(7)
    shapes = [(12, 16, 1), (12, 16, 2), (12, 16, 3), (12, 16, 4)]
    wide = [(9, 130, ch) for ch in (1, 2, 3, 4)]  # stride past the cutover
    assert 130 * 2 >= _PNG_VEC_STRIDE
    for ft in range(5):
        for shape in shapes + wide:
            img = rng.randint(0, 256, shape).astype(np.uint8)
            dec = png_decode(png_encode(img, filter_type=ft))
            assert dec.shape == shape and (dec == img).all(), (ft, shape)
        # palette: stored indices, decoded through PLTE to RGB
        for w in (16, 300):
            idx = rng.randint(0, 64, (12, w, 1)).astype(np.uint8)
            pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
            dec = png_decode(png_encode(idx, filter_type=ft, palette=pal))
            assert dec.shape == (12, w, 3)
            assert (dec == pal[idx[:, :, 0]]).all(), (ft, w)


def test_png_decode_honest_gates():
    """Missing PLTE for color type 3 and out-of-range palette indices
    are errors; 16-bit / interlaced streams stay NotImplementedError."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        png_decode,
        png_encode,
    )

    # strip the PLTE chunk out of a palette PNG -> ValueError
    idx = np.zeros((4, 4, 1), np.uint8)
    pal = np.zeros((4, 3), np.uint8)
    enc = png_encode(idx, palette=pal)
    pos, out = 8, bytearray(_PNG_SIG)
    while pos < len(enc):
        (length,) = struct.unpack(">I", enc[pos : pos + 4])
        typ = enc[pos + 4 : pos + 8]
        if typ != b"PLTE":
            out += enc[pos : pos + 12 + length]
        pos += 12 + length
    with _pytest.raises(ValueError, match="PLTE"):
        png_decode(bytes(out))

    # sub-byte depth (4-bit palette) DECODES as of round 7 — here the
    # minimal hand-built stream: 2x2 indices packed two per byte
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 3, 0, 0, 0)
    raw = zlib.compress(bytes([0, 0x12, 0, 0x30]))  # rows (1,2),(3,0)
    pal = bytes([10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42])
    deep = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal)
        + _png_chunk(b"IDAT", raw)
        + _png_chunk(b"IEND", b"")
    )
    dec = png_decode(deep)
    assert (dec == np.array(
        [[[20, 21, 22], [30, 31, 32]], [[40, 41, 42], [10, 11, 12]]],
        dtype=np.uint8,
    )).all()
    # sub-byte RGB is spec-invalid and refused
    ihdr_rgb1 = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr_rgb1)
        + _png_chunk(b"IDAT", zlib.compress(bytes(4)))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="depth/color"):
        png_decode(bad)
    # 16-bit PALETTE is spec-invalid and refused
    ihdr16p = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr16p)
        + _png_chunk(b"PLTE", bytes(12))
        + _png_chunk(b"IDAT", zlib.compress(bytes(4)))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="depth/color"):
        png_decode(bad)


def test_mp4_container_walk():
    """Round-4 task #4: the ISO-BMFF builder/parser round-trips real
    box trees — exact sample tables, floor-division durations, TRUE
    absolute stco offsets — and the walk tolerates what wild files
    carry: unknown boxes (skipped by size), 64-bit largesize, v1
    time boxes, co64 offsets."""
    import struct

    import pytest as _pytest

    from bigdataflink_spark.operators.multimodal import (
        _mp4_box,
        _mp4_full,
        mp4_build,
        mp4_scan,
    )

    tracks = [
        {
            "handler": "vide", "codec": "avc1", "timescale": 1000,
            "sample_delta": 40, "sample_sizes": [100, 120, 90],
            "width": 320, "height": 240,
        },
        {
            "handler": "soun", "codec": "mp4a", "timescale": 48000,
            "sample_delta": 1024, "sample_sizes": [50, 60],
        },
    ]
    buf = mp4_build(tracks)
    m = mp4_scan(buf)
    assert (m["brand"], m["movie_timescale"], m["n_tracks"]) == ("isom", 1000, 2)
    assert m["duration_ms"] == 120  # max(3*40, floor(2*1024/48))
    v, a = m["tracks"]
    assert (v["handler"], v["codec"], v["n_samples"]) == ("vide", "avc1", 3)
    assert (v["width"], v["height"], v["total_sample_bytes"]) == (320, 240, 310)
    assert (a["handler"], a["codec"], a["duration_ms"]) == ("soun", "mp4a", 42)
    # stco offsets are REAL file positions: the deterministic sample
    # filler (byte k of sample j = (j*31+k)%256) sits exactly there
    off = v["chunk_offsets"][0]
    assert buf[off : off + 4] == bytes((0 * 31 + k) % 256 for k in range(4))
    assert a["chunk_offsets"][0] == off + 310

    # wild-file tolerance: an unknown top-level box + a free box inside
    # moov must be skipped by size without disturbing the walk
    ftyp_end = 28
    wild = (
        buf[:ftyp_end]
        + _mp4_box(b"skip", b"\x00" * 11)
        + buf[ftyp_end:]
    )
    m2 = mp4_scan(wild)
    assert m2["n_tracks"] == 2 and m2["duration_ms"] == 120
    # (offsets in stco now lag the inserted box — real remuxers
    # rewrite stco; the PARSER must still report what the box says)
    assert m2["tracks"][0]["chunk_offsets"][0] == off

    # 64-bit largesize mdat + co64 offsets + v1 mvhd parse
    big = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    payload = bytes(16)
    mdat64 = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload)) + payload
    mvhd1 = _mp4_full(
        b"mvhd", 1, 0,
        struct.pack(">QQ", 0, 0) + struct.pack(">IQ", 90000, 180000)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0) + bytes(8)
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + bytes(24) + struct.pack(">I", 1),
    )
    m3 = mp4_scan(big + mdat64 + _mp4_box(b"moov", mvhd1))
    assert m3["movie_timescale"] == 90000 and m3["duration_ms"] == 2000
    assert m3["n_tracks"] == 0

    # truncated box is a refusal, not a silent partial parse
    with _pytest.raises(ValueError, match="overruns"):
        mp4_scan(buf[: len(buf) - 40])


def test_png_decode_batch_equivalence():
    """png_decode_batch ≡ png_decode byte-for-byte over a shuffled mix
    of cohorts (all color types × all filters × two shapes, palette
    files carrying per-image PLTEs), including the <8-image scalar
    fallback path."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        png_decode,
        png_decode_batch,
        png_encode,
    )

    rng = np.random.RandomState(11)
    payloads, want = [], []
    for ft in range(5):
        for shape in [(12, 16, 1), (12, 16, 2), (12, 16, 3), (12, 16, 4), (9, 130, 3)]:
            for _ in range(3):
                img = rng.randint(0, 256, shape).astype(np.uint8)
                payloads.append(png_encode(img, filter_type=ft))
                want.append(img)
        idx = rng.randint(0, 64, (12, 16, 1)).astype(np.uint8)
        pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
        payloads.append(png_encode(idx, filter_type=ft, palette=pal))
        want.append(pal[idx[:, :, 0]])
    order = rng.permutation(len(payloads))
    got = png_decode_batch([payloads[i] for i in order])
    for g, i in zip(got, order):
        assert g.shape == want[i].shape and (g == want[i]).all()
    # big single cohort (the q183 shape) crosses the batch threshold
    imgs = [
        ((i * 31 + np.arange(576)) % 256).astype(np.uint8).reshape(12, 16, 3)
        for i in range(64)
    ]
    ps = [png_encode(im, filter_type=4) for im in imgs]
    for a, b in zip(png_decode_batch(ps), (png_decode(p) for p in ps)):
        assert (a == b).all()


def test_mp4_fragmented_walk():
    """fMP4/CMAF (the DASH/HLS wire shape): empty moov sample tables +
    mvex/trex defaults, samples carried by moof/traf/trun — the walk
    accumulates counts, bytes, and moof-relative chunk offsets across
    fragments, byte-exactly."""
    from bigdataflink_spark.operators.multimodal import (
        mp4_build_fragmented,
        mp4_scan,
    )

    tracks = [
        {
            "handler": "vide", "codec": "avc1", "timescale": 1000,
            "sample_delta": 40,
            "sample_sizes": [100 + j for j in range(20)],
            "width": 320, "height": 240,
        },
        {
            "handler": "soun", "codec": "mp4a", "timescale": 48000,
            "sample_delta": 1024,
            "sample_sizes": [50 + j for j in range(11)],
        },
    ]
    buf = mp4_build_fragmented(tracks, samples_per_fragment=8)
    m = mp4_scan(buf)
    assert m["n_fragments"] == 3  # ceil(20/8)
    v, a = m["tracks"]
    assert (v["n_samples"], v["total_sample_bytes"]) == (20, sum(100 + j for j in range(20)))
    assert (a["n_samples"], a["total_sample_bytes"]) == (11, sum(50 + j for j in range(11)))
    assert len(v["chunk_offsets"]) == 3 and len(a["chunk_offsets"]) == 2
    # trun data offsets resolve against MOOF START to the true sample
    # bytes: fragment 2's first video sample is j=8 of the filler
    off = v["chunk_offsets"][1]
    assert buf[off : off + 4] == bytes((8 * 31 + k) % 256 for k in range(4))
    # mdhd still carries full durations (this builder writes them)
    assert v["duration_ms"] == 800 and a["duration_ms"] == 234


def test_png_adam7_interlace_roundtrips():
    """Adam7 deinterlacing: the seven-pass scatter reconstructs every
    profile byte-exactly at sizes that exercise empty and partial
    passes (dims < 8, single pixel), and the 7 pass grids tile an 8x8
    block exactly once."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _ADAM7,
        png_decode,
        png_decode_batch,
        png_encode,
    )

    cover = np.zeros((8, 8), int)
    for x0, y0, dx, dy in _ADAM7:
        cover[y0::dy, x0::dx] += 1
    assert (cover == 1).all()

    rng = np.random.RandomState(5)
    shapes = [
        (12, 16, 1), (12, 16, 2), (12, 16, 3), (12, 16, 4),
        (7, 5, 3), (1, 1, 3), (3, 9, 2), (9, 3, 4), (33, 130, 3),
    ]
    for ft in range(5):
        for shape in shapes:
            img = rng.randint(0, 256, shape).astype(np.uint8)
            dec = png_decode(png_encode(img, filter_type=ft, interlace=True))
            assert dec.shape == shape and (dec == img).all(), (ft, shape)
        idx = rng.randint(0, 64, (12, 16, 1)).astype(np.uint8)
        pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
        dec = png_decode(
            png_encode(idx, filter_type=ft, palette=pal, interlace=True)
        )
        assert (dec == pal[idx[:, :, 0]]).all()
    # the batch decoder routes interlaced cohorts to the pass-layout path
    ps = [
        png_encode(
            rng.randint(0, 256, (12, 16, 3)).astype(np.uint8),
            filter_type=4,
            interlace=True,
        )
        for _ in range(12)
    ]
    for a, b in zip(png_decode_batch(ps), (png_decode(p) for p in ps)):
        assert (a == b).all()


def test_png_16bit_roundtrips():
    """16-bit depth: uint16 arrays encode as big-endian sample bytes
    (filters operate on bytes regardless of depth, spec §9.2) and
    round-trip exactly — every color type, every filter, plain and
    Adam7; the batch decoder routes 16-bit cohorts to the scalar
    path."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        png_decode,
        png_decode_batch,
        png_encode,
    )

    rng = np.random.RandomState(9)
    for ft in range(5):
        for ch in (1, 2, 3, 4):
            for ilace in (False, True):
                img = rng.randint(0, 65536, (12, 16, ch)).astype(np.uint16)
                dec = png_decode(
                    png_encode(img, filter_type=ft, interlace=ilace)
                )
                assert dec.dtype == np.uint16 and dec.shape == img.shape
                assert (dec == img).all(), (ft, ch, ilace)
    ps = [
        png_encode(
            rng.randint(0, 65536, (12, 16, 3)).astype(np.uint16),
            filter_type=4,
        )
        for _ in range(10)
    ]
    for a, b in zip(png_decode_batch(ps), (png_decode(p) for p in ps)):
        assert (a == b).all()


def test_gif_lzw_stream_contract():
    """GIF variable-code-size LZW: round trips across code-width
    growth to 12 bits and the reset-at-4096 CLEAR policy; tiny and
    degenerate streams; and the KwKwK (code == next_code) case."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    # high-entropy stream long enough to fill the 12-bit table
    # several times over (forces growth 7->12 and >=1 CLEAR reset)
    ks = np.arange(300_000, dtype=np.int64)
    data = ((ks * 2654435761) % 251 % 64).astype(np.uint8).tobytes()
    enc = _gif_lzw_encode(data, 6)
    assert bytes(_gif_lzw_decode(enc, 6)) == data
    assert len(enc) < len(data)  # it actually compresses

    for payload in (b"", b"\x00", b"\x00" * 500, bytes(range(4)) * 100):
        for mcs in (2, 3):
            assert (
                bytes(_gif_lzw_decode(_gif_lzw_encode(payload, mcs), mcs))
                == payload
            )

    # KwKwK: run of identical symbols makes the decoder resolve a
    # code equal to its own next_code on the second step
    run = b"\x01" * 50
    assert bytes(_gif_lzw_decode(_gif_lzw_encode(run, 2), 2)) == run

    # deferred-CLEAR tolerance: strip our reset and keep the table
    # frozen — decode a stream hand-built without any mid-stream
    # CLEAR by re-encoding a short prefix (never fills the table) and
    # verifying the decoder consumed it with zero resets
    short = bytes(range(16)) * 8
    assert bytes(_gif_lzw_decode(_gif_lzw_encode(short, 4), 4)) == short


def test_gif_codec_roundtrip_profiles():
    """GIF89a container round trips: plain + interlaced single
    frames, multi-frame animation with per-frame delays, delta
    frames with transparency compositing, disposal-2
    restore-to-background, and the 2-entry-palette minimum-code-size
    floor."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        gif_decode,
        gif_encode,
    )

    js = np.arange(64, dtype=np.int64)
    pal = np.stack(
        [(js * 5 + 1) % 256, (js * 11 + 3) % 256, (js * 23 + 7) % 256],
        axis=1,
    ).astype(np.uint8)

    img = ((np.arange(16 * 12) * 31) % 64).astype(np.uint8).reshape(12, 16)
    for interlace in (False, True):
        frames, p, meta = gif_decode(gif_encode(img, pal, interlace=interlace))
        assert frames.shape == (1, 12, 16)
        assert (frames[0] == img).all()
        assert (p[:64] == pal).all()
        assert meta[0]["interlaced"] is interlace

    # odd shapes through the interlace permutation (pass rows overlap
    # unevenly below 8 rows)
    for h, w in ((1, 1), (7, 5), (9, 17), (8, 8)):
        im = ((np.arange(h * w) * 13) % 64).astype(np.uint8).reshape(h, w)
        frames, _, _ = gif_decode(gif_encode(im, pal, interlace=True))
        assert (frames[0] == im).all(), (h, w)

    # animation: full frames + delays
    anim = [
        ((np.arange(16 * 12) * 31 + f * 7) % 64)
        .astype(np.uint8)
        .reshape(12, 16)
        for f in range(3)
    ]
    frames, _, meta = gif_decode(gif_encode(anim, pal, delays_cs=[4, 5, 6]))
    assert frames.shape == (3, 12, 16)
    for f in range(3):
        assert (frames[f] == anim[f]).all()
    assert [m["delay_cs"] for m in meta] == [4, 5, 6]

    # delta frame at (left=3, top=2) with transparent index 7: the
    # composited canvas keeps the base pixel under the hole
    base = np.zeros((10, 10), np.uint8)
    delta = np.full((4, 4), 5, np.uint8)
    delta[1, 1] = 7
    frames, _, _ = gif_decode(
        gif_encode(
            [base, delta], pal, canvas=(10, 10), boxes=[(0, 0), (3, 2)],
            transparent=7,
        )
    )
    exp = base.copy()
    exp[2:6, 3:7] = 5
    exp[3, 4] = 0
    assert (frames[1] == exp).all()

    # disposal 2: frame rect restores to background before the next
    frames, _, _ = gif_decode(
        gif_encode(
            [
                np.full((6, 6), 9, np.uint8),
                np.full((6, 6), 3, np.uint8),
                np.full((2, 2), 5, np.uint8),
            ],
            pal,
            canvas=(6, 6),
            boxes=[(0, 0), (0, 0), (2, 2)],
            disposals=[2, 2, 0],
        )
    )
    exp2 = np.zeros((6, 6), np.uint8)
    exp2[2:4, 2:4] = 5
    assert (frames[0] == 9).all() and (frames[1] == 3).all()
    assert (frames[2] == exp2).all()

    # 2-color palette: spec floors the LZW minimum code size at 2
    pal2 = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    bw = (np.arange(64) % 2).astype(np.uint8).reshape(8, 8)
    frames, p, _ = gif_decode(gif_encode(bw, pal2))
    assert (frames[0] == bw).all()
    assert (p[:2] == pal2).all()


def test_gif_decode_wild_files():
    """Foreign-file tolerances the encoder never emits: GIF87a
    headers, a local color table, comment/plain-text extensions, and
    interlaced frames inside animations."""
    import struct

    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _gif_lzw_encode,
        _gif_subblocks,
        gif_decode,
        gif_encode,
    )

    pal = np.stack(
        [np.arange(16) * 16, np.arange(16) * 8, np.arange(16) * 4], axis=1
    ).astype(np.uint8)
    img = ((np.arange(6 * 5) * 3) % 16).astype(np.uint8).reshape(5, 6)

    # hand-build: GIF87a + GCT + comment ext + image w/ LOCAL table
    local = pal[::-1].copy()
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", 6, 5)
    out += bytes([0x80 | (7 << 4) | 3, 0, 0])
    out += pal.tobytes()
    out += b"\x21\xfe" + _gif_subblocks(b"hi there")  # comment ext
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 6, 5)
    out += bytes([0x80 | 3])  # local color table, 16 entries
    out += local.tobytes()
    out += bytes([4]) + _gif_subblocks(_gif_lzw_encode(img.tobytes(), 4))
    out += b"\x3b"
    frames, p, meta = gif_decode(bytes(out))
    assert (p[:16] == pal).all()
    assert meta[0]["local_palette"] is True
    assert (meta[0]["local_indices"] == img).all()
    assert (meta[0]["local_table"] == local).all()

    # interlaced delta frame inside an animation round trips through
    # the composite (encoder path: interlace applies to every frame)
    anim = [
        ((np.arange(8 * 8) + f) % 16).astype(np.uint8).reshape(8, 8)
        for f in range(2)
    ]
    frames, _, meta = gif_decode(gif_encode(anim, pal, interlace=True))
    for f in range(2):
        assert (frames[f] == anim[f]).all()
        assert meta[f]["interlaced"] is True

    # truncated stream raises, not garbage
    enc = gif_encode(img, pal)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gif_decode(enc[: len(enc) // 2])


def test_flac_stream_contract():
    """Structural contract of the emitted FLAC stream: magic,
    STREAMINFO fields, frame sync, real compression on structured
    signals, honest non-compression (verbatim) on noise, and a
    near-empty stream for constant input."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _FBitReader,
        flac_decode,
        flac_encode,
    )

    js = np.arange(800, dtype=np.int64)
    ramp = (((9 * 31 + js) % 65536) - 32768).astype(np.int16).reshape(-1, 2)
    enc = flac_encode(ramp, 8000, 256)
    assert enc[:4] == b"fLaC"
    assert enc[4] == 0x80 and enc[5:8] == b"\x00\x00\x22"  # last, 34 B
    sr = _FBitReader(enc[8:])
    assert sr.read(16) == 256 and sr.read(16) == 256  # min/max block
    sr.read(24), sr.read(24)
    assert sr.read(20) == 8000
    assert sr.read(3) + 1 == 2 and sr.read(5) + 1 == 16
    assert sr.read(36) == 400
    assert enc[42] == 0xFF and enc[43] & 0xFC == 0xF8  # frame sync
    # real compression on the ramp (400x2 int16 = 1600 raw bytes)
    assert len(enc) < ramp.nbytes // 4
    # honest verbatim on hash noise: larger than raw, never lossy
    a = (5 * 2654435761 + js[:400] * 40503) % 65536
    b = (js[:400] ** 2 * 1103515245) % 65536
    noise = ((a ^ b) - 32768).astype(np.int16).reshape(-1, 1)
    enc_n = flac_encode(noise, 8000, 256)
    assert len(enc_n) > noise.nbytes
    assert np.array_equal(flac_decode(enc_n)[0], noise)
    # constant input: one CONSTANT subframe per frame, stream is tiny
    const = np.full((1000, 1), 77, dtype=np.int16)
    assert len(flac_encode(const, 8000, 250)) < 100


def test_flac_stereo_modes_and_partitions():
    """Every stereo channel assignment decodes (the flac -m/-M
    matrix), and the Rice partition-order search engages on signals
    whose local statistics vary (half smooth / half noisy)."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _flac_plan_subframe,
        flac_decode,
        flac_encode,
    )

    rng = np.random.RandomState(11)
    l = (np.sin(np.arange(1024) / 7) * 12000).astype(np.int16)
    r = (l.astype(np.int64) + rng.randint(-5, 6, 1024)).astype(np.int16)
    pcm = np.stack([l, r], axis=1)
    sizes = {}
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        # fixed profile pinned: LPC shrinks the independent channels
        # enough that the "every decorrelated mode wins" invariant
        # below only holds for the predictor family this test is
        # about (test_flac_lpc_subframes covers the LPC family)
        enc = flac_encode(pcm, 44100, 256, stereo_mode=mode,
                          max_lpc_order=0)
        dec, _ = flac_decode(enc)
        assert np.array_equal(dec, pcm), mode
        sizes[mode] = len(enc)
    # correlated channels: every decorrelated mode beats independent,
    # and auto (cost-based) matches the best forced mode
    assert all(sizes[m] < sizes["independent"]
               for m in ("left_side", "right_side", "mid_side"))
    assert len(flac_encode(pcm, 44100, 256, max_lpc_order=0)) \
        == min(sizes.values())

    # half-smooth / half-noisy block: partitioned Rice must beat a
    # single parameter, and the stream still round-trips
    smooth = np.arange(256, dtype=np.int64) * 3
    noisy = rng.randint(-20000, 20000, 256)
    x = np.concatenate([smooth, noisy])
    plan = _flac_plan_subframe(x, 16)
    assert plan["type"] == "fixed" and plan["porder"] > 0
    pcm2 = x.astype(np.int16).reshape(-1, 1)
    assert np.array_equal(
        flac_decode(flac_encode(pcm2, 8000, 512))[0], pcm2
    )


def test_flac_decode_wild_structures():
    """Foreign-file structures the encoder never emits: extra
    metadata blocks (padding + vorbis-comment), the 5-bit Rice2
    residual method, ESCAPE partitions (raw residuals), wasted bits,
    and a 16-bit end-of-header blocksize — hand-built at the bit
    level per spec, then decoded."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _FBitWriter,
        _flac_crc8,
        _flac_crc16,
        _flac_utf8,
        flac_decode,
        flac_encode,
    )

    def build(subframe_bits, n, extra_meta=False):
        """Minimal mono 16-bit stream with one frame of n samples."""
        import hashlib
        sw = _FBitWriter()
        sw.write(n, 16), sw.write(n, 16)
        sw.write(0, 24), sw.write(0, 24)
        sw.write(8000, 20), sw.write(0, 3), sw.write(15, 5)
        sw.write(n, 36)
        md5 = hashlib.md5(
            build.expect.astype("<i2").tobytes()
        ).digest()
        streaminfo = sw.getvalue() + md5
        out = bytearray(b"fLaC")
        if extra_meta:
            out += bytes([0x00]) + (34).to_bytes(3, "big") + streaminfo
            out += bytes([0x04]) + (8).to_bytes(3, "big") + b"\x00" * 8
            out += bytes([0x81]) + (2).to_bytes(3, "big") + b"\x00\x00"
        else:
            out += bytes([0x80]) + (34).to_bytes(3, "big") + streaminfo
        fw = _FBitWriter()
        fw.write(0b11111111111110, 14)
        fw.write(0, 2)
        fw.write(7, 4)          # blocksize: 16-bit at end of header
        fw.write(4, 4)          # 8 kHz
        fw.write(0, 4)          # mono
        fw.write(0b100, 3), fw.write(0, 1)
        for by in _flac_utf8(0):
            fw.write(by, 8)
        fw.write(n - 1, 16)
        fw.write(_flac_crc8(bytes(fw.buf)), 8)
        subframe_bits(fw)
        fw.align()
        fw.write(_flac_crc16(bytes(fw.buf)), 16)
        return bytes(out) + fw.getvalue()

    # 1. ESCAPE partition: order-0 fixed subframe, raw 9-bit residuals
    vals = np.arange(-100, 100, dtype=np.int64)  # fits in 9 bits

    def sub_escape(fw):
        fw.write(0, 1), fw.write(0b001000, 6), fw.write(0, 1)
        fw.write(0, 2)          # method 0 (4-bit params)
        fw.write(0, 4)          # partition order 0
        fw.write(0b1111, 4)     # ESCAPE
        fw.write(9, 5)          # raw width
        for v in vals:
            fw.write(int(v), 9)

    build.expect = vals.astype(np.int16).reshape(-1, 1)
    dec, rate = flac_decode(build(sub_escape, vals.size, extra_meta=True))
    assert rate == 8000 and np.array_equal(dec, build.expect)

    # 2. Rice2 (method 1, 5-bit params) + wasted bits (samples
    #    stored >>2, shifted back on decode)
    raw = (np.arange(64, dtype=np.int64) * 4 - 128)  # all multiples of 4

    def sub_rice2_wasted(fw):
        fw.write(0, 1), fw.write(0b001001, 6)   # fixed order 1
        fw.write(1, 1)
        fw.unary(1)             # wasted bits = 2 (unary 1 + 1)
        fw.write(int(raw[0]) >> 2, 14)          # warmup at bps-2
        fw.write(1, 2)          # method 1: 5-bit params
        fw.write(0, 4)
        fw.write(1, 5)          # rice param k=1
        res = np.diff(raw >> 2)                  # constant 1
        for v in res:
            u = int((v << 1) ^ (v >> 63))
            fw.unary(u >> 1)
            fw.write(u & 1, 1)

    build.expect = raw.astype(np.int16).reshape(-1, 1)
    dec, _ = flac_decode(build(sub_rice2_wasted, raw.size))
    assert np.array_equal(dec, build.expect)

    # 3. corruption anywhere -> ValueError, never silent garbage
    good = flac_encode(build.expect, 8000, 64)
    for pos in (4, 20, 44, len(good) - 2):
        bad = bytearray(good)
        bad[pos] ^= 0x10
        try:
            flac_decode(bytes(bad))
            raise AssertionError(f"corruption at {pos} undetected")
        except (ValueError, NotImplementedError):
            pass


def test_flac_lpc_subframes():
    """LPC subframe contract: (1) on a period-6 linear recurrence —
    which fixed differencing can never whiten — the encoder picks
    LPC, beats the fixed-only profile, and round-trips exactly;
    (2) a foreign LPC subframe with a coefficient precision the
    encoder never emits (12-bit) decodes per spec; (3) the invalid
    precision escape and the forbidden negative shift raise."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _FBitWriter,
        _flac_crc8,
        _flac_crc16,
        _flac_utf8,
        flac_decode,
        flac_encode,
        flac_subframe_histogram,
    )

    pat = np.array([900, -400, -1300, -900, 400, 1300], dtype=np.int64)
    x = pat[np.arange(1200) % 6].astype(np.int16).reshape(-1, 1)
    enc = flac_encode(x, 8000, 256)
    enc_fixed = flac_encode(x, 8000, 256, max_lpc_order=0)
    dec, _ = flac_decode(enc)
    assert np.array_equal(dec, x)
    hist = flac_subframe_histogram(enc)
    assert hist.get("lpc", 0) > 0 and "fixed" not in hist
    assert len(enc) < len(enc_fixed) // 2  # LPC whitens, diffs don't
    assert "lpc" not in flac_subframe_histogram(enc_fixed)

    # stereo: the side channel of two recurrences is itself period-6
    st = np.stack(
        [pat[np.arange(480) % 6], pat[(np.arange(480) + 2) % 6]], axis=1
    ).astype(np.int16)
    enc_st = flac_encode(st, 8000, 240)
    dec_st, _ = flac_decode(enc_st)
    assert np.array_equal(dec_st, st)
    assert flac_subframe_histogram(enc_st).get("lpc", 0) > 0

    # hand-built foreign stream: order-1 LPC, 12-bit precision,
    # shift 3, qc = [8] (i.e. predictor = x[i-1] exactly)
    import hashlib

    n = 16
    vals = np.arange(100, 100 + 3 * n, 3, dtype=np.int64)  # step 3

    def build(subframe_bits, expect):
        sw = _FBitWriter()
        sw.write(n, 16), sw.write(n, 16)
        sw.write(0, 24), sw.write(0, 24)
        sw.write(8000, 20), sw.write(0, 3), sw.write(15, 5)
        sw.write(n, 36)
        md5 = hashlib.md5(expect.astype("<i2").tobytes()).digest()
        out = bytearray(b"fLaC")
        out += bytes([0x80]) + (34).to_bytes(3, "big") + sw.getvalue() + md5
        fw = _FBitWriter()
        fw.write(0b11111111111110, 14)
        fw.write(0, 2)
        fw.write(6, 4)          # blocksize: 8-bit at end of header
        fw.write(4, 4)          # 8 kHz
        fw.write(0, 4)          # mono
        fw.write(0b100, 3), fw.write(0, 1)
        for by in _flac_utf8(0):
            fw.write(by, 8)
        fw.write(n - 1, 8)
        fw.write(_flac_crc8(bytes(fw.buf)), 8)
        subframe_bits(fw)
        fw.align()
        fw.write(_flac_crc16(bytes(fw.buf)), 16)
        return bytes(out) + fw.getvalue()

    def sub_lpc(fw, prec_field=11, shift=3):
        fw.write(0, 1)
        fw.write(0b100000, 6)   # LPC order 1
        fw.write(0, 1)          # no wasted bits
        fw.write(int(vals[0]), 16)   # warmup
        fw.write(prec_field, 4)      # precision-1 = 11 -> 12-bit
        fw.write(shift, 5)
        fw.write(8, 12)         # qc = [8]: (8*x[i-1]) >> 3 = x[i-1]
        fw.write(0, 2)          # 4-bit Rice
        fw.write(0, 4)          # partition order 0
        fw.write(2, 4)          # k=2
        for _ in range(n - 1):  # residual constant 3 -> zigzag 6
            fw.unary(6 >> 2)
            fw.write(6 & 3, 2)

    expect = vals.astype(np.int16).reshape(-1, 1)
    dec2, rate = flac_decode(build(sub_lpc, expect))
    assert rate == 8000 and np.array_equal(dec2, expect)

    # invalid precision escape 0b1111
    try:
        flac_decode(build(lambda fw: sub_lpc(fw, prec_field=15), expect))
        raise AssertionError("precision escape undetected")
    except ValueError as e:
        assert "precision" in str(e)
    # negative shift (5-bit two's complement, sign bit set)
    try:
        flac_decode(build(lambda fw: sub_lpc(fw, shift=0x1F), expect))
        raise AssertionError("negative shift undetected")
    except ValueError as e:
        assert "shift" in str(e)


def test_exact_stratified_sample_contract(spark):
    """Hamilton largest-remainder apportionment: exactly total_n rows,
    per-stratum allocations within 1 of the exact quota, deterministic
    across reruns, and error past the population size."""
    import pytest as _pytest

    from bigdataflink_spark.operators.sampling import (
        exact_stratified_sample,
    )

    rows = [(i, ["en", "es", "de"][i % 7 % 3]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    pop = {s: sum(1 for _, x in rows if x == s) for s in ("en", "es", "de")}
    n_total = len(rows)

    picked = exact_stratified_sample(df, "doc_id", "lang", total_n=37)
    got = picked.collect()
    assert len(got) == 37
    by = {}
    for r in got:
        by[r.lang] = by.get(r.lang, 0) + 1
    for s, k in by.items():
        quota = 37 * pop[s] / n_total
        assert abs(k - quota) < 1  # Hamilton stays within 1 of quota
    # deterministic: identical selection on rerun
    again = {(r.doc_id, r.lang) for r in
             exact_stratified_sample(df, "doc_id", "lang", 37).collect()}
    assert again == {(r.doc_id, r.lang) for r in got}
    # different salt -> (almost surely) different members, same counts
    other = exact_stratified_sample(df, "doc_id", "lang", 37, salt="v2")
    assert {(r.doc_id,) for r in other.collect()} != {
        (r.doc_id,) for r in got
    }
    with _pytest.raises(ValueError, match="exceeds population"):
        exact_stratified_sample(df, "doc_id", "lang", 9999)
    # total_n == population selects everything
    assert exact_stratified_sample(df, "doc_id", "lang", 200).count() == 200


def test_exact_stratified_sample_staged_dominant_stratum(spark):
    """VERDICT r7 #1: a dominant stratum (90% of the corpus) must NOT
    feed its whole population into the per-stratum rank window — the
    staged pre-filter shrinks the window input to ~allocation — and
    the staged draw must be IDENTICAL to the unstaged full rank."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.operators.sampling import (
        _stratum_thresholds,
        exact_stratified_sample,
        split_bucket,
        RESOLUTION,
    )

    df = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("en"))
        .otherwise(F.lit("de"))
        .alias("lang"),
    )
    total_n = 500
    staged = exact_stratified_sample(
        df, "doc_id", "lang", total_n, small_stratum_rows=1_000
    )
    full = exact_stratified_sample(
        df, "doc_id", "lang", total_n, small_stratum_rows=10**12
    )
    staged_ids = {r.doc_id for r in staged.collect()}
    full_ids = {r.doc_id for r in full.collect()}
    assert len(staged_ids) == total_n
    assert staged_ids == full_ids  # identical draw by construction

    # the rank window's input (pre-filter survivors) is ~alloc, not n_s
    counts = {"en": 90_000, "de": 10_000}
    alloc = {"en": 450, "de": 50}
    thr = _stratum_thresholds(counts, alloc, small_stratum_rows=1_000)
    assert thr["en"] < RESOLUTION and thr["de"] < RESOLUTION
    survivors_en = df.filter(
        (F.col("lang") == "en")
        & (split_bucket("doc_id", "sample-v1") < thr["en"])
    ).count()
    assert alloc["en"] <= survivors_en < 5_000  # << 90k stratum size


def test_exact_stratified_sample_escalates_deficient_threshold(
    spark, monkeypatch
):
    """The correctness backstop: thresholds too tight to yield the
    allocation must escalate that stratum to the full rank — the
    draw stays exact no matter how wrong the Chernoff margin is."""
    from bigdataflink_spark.operators import sampling as sm

    df = spark.range(5_000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 5 < 4 THEN 'en' ELSE 'de' END AS lang"
    )
    ref = {
        r.doc_id
        for r in sm.exact_stratified_sample(
            df, "doc_id", "lang", 100, small_stratum_rows=10**12
        ).collect()
    }
    # sabotage: keep ~5000/1e6 ≈ 0 survivors per stratum
    monkeypatch.setattr(
        sm, "_stratum_thresholds", lambda c, a, s: {k: 1 for k in a}
    )
    got = {
        r.doc_id
        for r in sm.exact_stratified_sample(
            df, "doc_id", "lang", 100, small_stratum_rows=1
        ).collect()
    }
    assert got == ref

    # partial deficiency (round 9): only ONE stratum's threshold is
    # sabotaged — the escalated draw must mix a full rank for it with
    # the staged prefix for the healthy stratum and still equal the
    # unstaged oracle exactly
    monkeypatch.undo()
    orig = sm._stratum_thresholds

    def half_sabotaged(c, a, s):
        thr = orig(c, a, s)
        thr["de"] = 1  # deficient; "en" keeps its honest threshold
        return thr

    monkeypatch.setattr(sm, "_stratum_thresholds", half_sabotaged)
    got2 = {
        r.doc_id
        for r in sm.exact_stratified_sample(
            df, "doc_id", "lang", 100, small_stratum_rows=1
        ).collect()
    }
    assert got2 == ref


def test_exact_stratified_sample_non_string_strata(spark):
    """ADVICE r7: the allocation schema derives from the stratum
    column's dtype — integer quality bins must work, not just
    language strings."""
    df = spark.range(600).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS INT) AS bin"
    )
    picked = exact_stratified_sample_import()(df, "doc_id", "bin", 30)
    rows = picked.collect()
    assert len(rows) == 30
    assert {r.bin for r in rows} == {0, 1, 2}
    assert dict(picked.dtypes)["bin"] == "int"


def exact_stratified_sample_import():
    from bigdataflink_spark.operators.sampling import (
        exact_stratified_sample,
    )

    return exact_stratified_sample


def test_int8_quantization_bounds_and_determinism(spark):
    """Quantized components live in [-127, 127], the max-|x| dim hits
    +/-127 (up to the one-ulp floor asymmetry), zero vectors quantize
    to zeros, and a rerun reproduces the identical arrays."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.operators import similarity

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    zero = spark.createDataFrame(
        [(10**9, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    qz = similarity.quantize_int8(emb.unionByName(zero))
    rows = qz.collect()
    by_id = {r.id: r for r in rows}
    assert all(v == 0 for v in by_id[10**9].qvec)
    for r in rows[:50]:
        assert all(-127 <= v <= 127 for v in r.qvec)
        if r.scale > 0:
            assert max(abs(v) for v in r.qvec) >= 126
    again = {r.id: r.qvec for r in similarity.quantize_int8(emb).collect()}
    for r in rows:
        if r.id != 10**9:
            assert again[r.id] == r.qvec


def test_int8_topk_recall_vs_float_cosine(spark):
    """Quantized-cosine retrieval finds the float-cosine neighbors:
    recall@5 >= 4/5 per query on the synthetic corpus (measured 5/5;
    the quantized ranking normalizes by the int self-norms, which is
    what makes it cosine up to quantization noise — raw integer dot
    ranks by max-abs scale and loses recall)."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.operators import similarity

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    qz = similarity.quantize_int8(emb)
    approx = similarity.int8_topk(qz, qz.filter(F.col("id") < 8), k=5)
    exact = similarity.cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 8), k=5
    )
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    for qid in range(8):
        hits = len({p for p in a if p[0] == qid} & e)
        assert hits >= 4, (qid, hits)
    # scores are exact integers: re-derive one pair's dot by hand
    row = approx.filter(F.col("rank") == 1).collect()[0]
    qv = {r.id: r.qvec for r in qz.filter(F.col("id").isin(
        int(row.query_id), int(row.neighbor_id))).collect()}
    hand = sum(x * y for x, y in zip(qv[row.query_id], qv[row.neighbor_id]))
    assert hand == row.qdot
    assert sum(v * v for v in qv[row.neighbor_id]) == row.c_nn


def test_pq_encode_and_shortlist_properties(spark):
    """PQ structural pins: a centroid vector encodes to its own code
    in every subspace, codes are 8 ints in [0, 64), a rerun is
    identical, and the ADC top-50 shortlist contains >= 3 of the
    exact float top-5 per query (the rerank's raw material)."""
    from pyspark.sql import functions as F

    from bigdataflink_spark.operators import similarity

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cb = similarity.pq_codebook(emb, ncent=64)
    codes = similarity.pq_encode(emb, cb)
    rows = {r.id: r.codes for r in codes.collect()}
    for cid in (0, 3, 63):  # codebook members self-encode
        assert rows[cid] == [cid] * 8
    for cs in list(rows.values())[:100]:
        assert len(cs) == 8 and all(0 <= c < 64 for c in cs)
    again = {r.id: r.codes for r in similarity.pq_encode(emb, cb).collect()}
    assert again == rows
    short = similarity.pq_adc_shortlist(
        codes, cb, emb.filter(F.col("vec_id") < 6), k=50
    )
    exact = similarity.cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 6), k=5
    )
    a = {(r.query_id, r.neighbor_id) for r in short.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    for qid in range(6):
        hits = len({p for p in a if p[0] == qid} & e)
        assert hits >= 3, (qid, hits)


def test_substring_span_stats_maximal_spans(spark):
    """The interval merge reconstructs MAXIMAL repeated spans: a
    shared 12-token run (3 duplicated 10-window starts) reports as ONE
    span of length 12; a within-doc repeat counts (Lee et al. dedup
    within documents too); disjoint runs separated by > L unique
    tokens stay separate spans; docs with no >= 10-token repeat are
    absent."""
    from bigdataflink_spark.operators.text import substring_span_stats

    shared = " ".join(f"s{i}" for i in range(12))  # 12-token shared run
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            # doc 1: shared run at pos 3..14 inside unique padding
            (1, f"{uniq('a', 3)} {shared} {uniq('b', 15)}"),
            # doc 2: the same run at pos 0, then >L unique tokens,
            # then ANOTHER copy — within-doc + cross-doc, two spans
            (2, f"{shared} {uniq('c', 11)} {shared}"),
            # doc 3: 9-token overlap with the run only — below L
            (3, " ".join(f"s{i}" for i in range(9)) + " " + uniq("d", 10)),
            # doc 4: fully unique
            (4, uniq("e", 30)),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in substring_span_stats(docs, min_len=10).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_spans == 1 and rows[1].dup_tokens == 12
    assert rows[1].max_span == 12 and rows[1].n_tokens == 30
    assert rows[2].n_spans == 2 and rows[2].dup_tokens == 24
    assert rows[2].max_span == 12 and rows[2].dup_ratio == round(24 / 35, 6)


def test_substring_span_stats_gap_merge_boundary(spark):
    """Two duplicated windows whose coverage abuts exactly (next start
    == prev start + L) merge into one span; one token of unique gap
    between coverages splits them."""
    from bigdataflink_spark.operators.text import substring_span_stats

    run_a = " ".join(f"a{i}" for i in range(10))
    run_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            # abutting: [a-run][b-run] both duplicated -> starts 0 and
            # 10 -> coverage [0,9] + [10,19] merges to one 20-span
            (1, f"{run_a} {run_b}"),
            (2, f"{run_a} {run_b}"),
            # split: unique token between the runs -> starts 0 and 11
            # -> 11 > 0 + 10 -> two spans of 10
            (3, f"{run_a} gap3x {run_b}"),
            (4, f"{run_a} gap4x {run_b}"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in substring_span_stats(docs, min_len=10).collect()}
    assert rows[1].n_spans == 1 and rows[1].dup_tokens == 20
    assert rows[3].n_spans == 2 and rows[3].dup_tokens == 20
    assert rows[3].max_span == 10


def test_substring_excise_repaired_text(spark):
    """Excision cuts EVERY occurrence of a duplicated span
    (drop-all-repeats) and re-joins survivors with single spaces;
    untouched and sub-L docs pass through whitespace-normalized;
    fully-duplicated docs come back empty, not missing."""
    from bigdataflink_spark.operators.text import substring_excise

    shared = " ".join(f"s{i}" for i in range(12))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            # shared run at pos 3..14 in padding: padding survives
            (1, f"{uniq('a', 3)} {shared} {uniq('b', 15)}"),
            # doc is EXACTLY the shared run: fully excised -> empty
            (2, shared),
            # sub-L doc sharing 9 tokens: untouched (no 10-window)
            (3, " ".join(f"s{i}" for i in range(9))),
            # fully unique, with messy whitespace to normalize
            (4, "  e0   e1 e2  "),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r for r in substring_excise(docs, min_len=10).collect()
    }
    assert rows[1].repaired == f"{uniq('a', 3)} {uniq('b', 15)}"
    assert (rows[1].n_tokens, rows[1].kept_tokens, rows[1].removed_tokens) \
        == (30, 18, 12)
    assert rows[2].repaired == "" and rows[2].removed_tokens == 12
    assert rows[3].repaired == " ".join(f"s{i}" for i in range(9))
    assert rows[3].removed_tokens == 0
    assert rows[4].repaired == "e0 e1 e2" and rows[4].removed_tokens == 0


def test_substring_excise_keep_first_popular_text_survives_once(spark):
    """Keep-first policy (round 13): each duplicated window's
    globally-first occurrence (min (doc_id, pos)) is elected and
    KEPT; later occurrences are cut. Popular-because-good text
    survives exactly once — in the earliest doc — where drop-all
    would erase every copy."""
    from bigdataflink_spark.operators.text import (
        substring_excise,
        substring_excise_keep_first,
    )

    shared = " ".join(f"s{i}" for i in range(12))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            # earliest holder of the popular passage: keeps it whole
            (1, f"{uniq('a', 3)} {shared} {uniq('b', 15)}"),
            # later copies: the passage is cut, padding survives
            (2, f"{uniq('c', 11)} {shared}"),
            (3, shared),
            # within-doc repeat of the SAME passage: the global first
            # lives in doc 1, so BOTH of doc 4's copies lose
            (4, f"{shared} {uniq('d', 4)} {shared}"),
        ],
        "doc_id long, text string",
    )
    kf = {
        r.doc_id: r
        for r in substring_excise_keep_first(docs, min_len=10).collect()
    }
    assert kf[1].repaired == f"{uniq('a', 3)} {shared} {uniq('b', 15)}"
    assert kf[1].removed_tokens == 0
    assert kf[2].repaired == uniq("c", 11) and kf[2].removed_tokens == 12
    assert kf[3].repaired == "" and kf[3].removed_tokens == 12
    assert kf[4].repaired == uniq("d", 4)
    assert kf[4].removed_tokens == 24
    # the passage appears EXACTLY once across the repaired corpus
    assert sum(r.repaired.count(shared) for r in kf.values()) == 1
    # vs drop-all: every copy gone, nothing survives anywhere
    da = {
        r.doc_id: r for r in substring_excise(docs, min_len=10).collect()
    }
    assert sum(r.repaired.count(shared) for r in da.values()) == 0
    # keep-first never removes more than drop-all
    assert all(
        kf[i].removed_tokens <= da[i].removed_tokens for i in kf
    )


def test_bpe_train_textbook_merges_and_ties(spark):
    """Sennrich toy corpus: the canonical merge order l+o, lo+w, then
    e+w / n+ew; step 5 is an exact (e,r)-vs-(low,e) count tie that the
    lexicographic tiebreak must resolve to (e, r). Within-word repeats
    count individually ('aaaa' yields 3 (a,a) pairs)."""
    from bigdataflink_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=5).collect()]
    assert got == [
        (1, "l", "o", "lo", 6),
        (2, "lo", "w", "low", 6),
        (3, "e", "w", "ew", 3),
        (4, "n", "ew", "new", 3),
        (5, "e", "r", "er", 2),  # tie vs (low, e): 'e' < 'low'
    ]

    rep = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(rep, n_merges=2).collect()]
    # 2 words x 3 adjacent (a,a) occurrences = 6; greedy merge turns
    # each word into [aa, aa] -> step 2 is (aa, aa) with count 2
    assert got[0] == (1, "a", "a", "aa", 6)
    assert got[1] == (2, "aa", "aa", "aaaa", 2)


def test_bpe_vocab_ids_and_encode(spark):
    """Deterministic id scheme (base chars sorted, then merges in
    step order) on the Sennrich toy corpus, and per-doc encoding
    through the final vocab's segmentation. Decode roundtrip: mapping
    ids back through the vocab and concatenating per-word symbols
    reproduces the whitespace-normalized token stream."""
    from bigdataflink_spark.operators.text import (
        bpe_doc_ids,
        bpe_vocab_export,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lowest", "en"),
            (2, "new newer newest low", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    vocab = {
        r.token_id: (r.symbol, r.kind)
        for r in bpe_vocab_export(docs, n_merges=5).collect()
    }
    # base: e l n o r s t w -> ids 0..7; merges lo low ew new er -> 8..12
    assert [vocab[i][0] for i in range(8)] == list("elnorstw")
    assert all(vocab[i][1] == "base" for i in range(8))
    assert [vocab[i][0] for i in range(8, 13)] == \
        ["lo", "low", "ew", "new", "er"]
    assert all(vocab[i][1] == "merged" for i in range(8, 13))

    ids = {
        r.doc_id: r.ids
        for r in bpe_doc_ids(docs, n_merges=5).collect()
    }
    # low low low low+er low+e+s+t | new new+er new+e+s+t low
    assert ids[1] == [9, 9, 9, 9, 12, 9, 0, 5, 6]
    assert ids[2] == [11, 11, 12, 11, 0, 5, 6, 9]
    # decode roundtrip == whitespace-joined tokens of the doc
    decoded1 = "".join(vocab[i][0] for i in ids[1])
    assert decoded1 == "lowlowlowlowerlowest"


def test_bpe_doc_ids_decode_roundtrip_corpus(spark):
    """Corpus-wide invertibility of the id pipeline at sf0.001: for
    EVERY document, mapping ids back through the exported vocab and
    concatenating reproduces the doc's token stream with whitespace
    removed. (Word boundaries are not encoded — this is the
    marker-free Sennrich variant, so the roundtrip pin is
    boundary-free: segmentation + id assignment lose nothing else.)"""
    from bigdataflink_spark.operators.text import (
        bpe_doc_ids,
        bpe_vocab_export,
    )
    from bigdataflink_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    id2sym = {
        r.token_id: r.symbol
        for r in bpe_vocab_export(docs, n_merges=8).collect()
    }
    ids = {
        r.doc_id: r.ids for r in bpe_doc_ids(docs, n_merges=8).collect()
    }
    raw = {
        r.doc_id: "".join(r.text.split())
        for r in docs.select("doc_id", "text").collect()
    }
    checked = 0
    for doc_id, seq in ids.items():
        assert "".join(id2sym[i] for i in seq) == raw[doc_id]
        checked += 1
    assert checked == sum(1 for t in raw.values() if t)


def test_bpe_encode_pack_consumes_real_ids(spark):
    """The packer bins id SEQUENCES (not whitespace counts): bin
    boundaries follow id-sequence lengths and the checksum is the sum
    of actual id values, verified by hand."""
    from bigdataflink_spark.operators.text import (
        bpe_doc_ids,
        bpe_encode_pack,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lowest", "en"),
            (2, "new newer newest low", "en"),
            (3, "lowest newest", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    ids = {r.doc_id: r.ids for r in bpe_doc_ids(docs, n_merges=5).collect()}
    got = {
        (r.lang, r.bin_id): (r.n_docs, r.bin_ids, r.ids_checksum)
        for r in bpe_encode_pack(docs, n_merges=5, seq_len=8).collect()
    }
    # en: doc1 starts at offset 0 (bin 0), doc2 at len(ids[1]) (bin
    # depends on the real encoded length); de: doc3 alone in bin 0
    b1 = len(ids[1]) // 8
    assert got[("en", 0)][0] >= 1
    assert got[("en", b1)][0] >= 1
    assert got[("de", 0)] == (1, len(ids[3]), sum(ids[3]))
    total_ids = sum(len(v) for v in ids.values())
    total_ck = sum(sum(v) for v in ids.values())
    assert sum(v[1] for v in got.values()) == total_ids
    assert sum(v[2] for v in got.values()) == total_ck


def test_bpe_train_early_exhaustion(spark):
    """A vocabulary of single-char words has no pairs: the trainer
    stops early and returns an empty merge table (schema intact)."""
    from bigdataflink_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    out = bpe_train(docs, n_merges=4)
    assert out.count() == 0
    assert out.columns == ["step", "left_sym", "right_sym", "merged", "pair_count"]


def test_ivf_int8_rerank_converges_to_bruteforce(spark):
    """With nprobe = n_cells and shortlist = corpus size, the composed
    stack's exact rerank must equal brute-force exact top-k (ids and
    6dp cosines) — the ANN dial degenerating to exact, composed
    across all three stages."""
    import random

    from bigdataflink_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_int8_rerank,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    qs = emb.filter("vec_id < 3")
    got = ivf_int8_rerank(emb, qs, k=4, nprobe=3, shortlist=40)
    want = cosine_topk_bruteforce(emb, qs, k=4)
    g = sorted((r.query_id, r.rank, r.neighbor_id, r.cos) for r in got.collect())
    w = sorted((r.query_id, r.rank, r.neighbor_id, r.cos) for r in want.collect())
    assert g == w
    # pruning pin: every candidate set was the full corpus minus self
    assert {r.n_candidates for r in got.collect()} == {39}


def test_ivf_pq_rerank_converges_to_bruteforce(spark):
    """IVF-PQ with nprobe = n_cells and shortlist = corpus size: the
    ADC ordering stops mattering (everything reaches the exact
    rerank), so the composition must equal brute-force exact top-k —
    and the census-derived n_candidates must equal corpus minus
    self."""
    import random

    from bigdataflink_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_pq_rerank,
    )

    rng = random.Random(12)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], i % 3)
        for i in range(80)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    qs = emb.filter("vec_id < 3")
    got = ivf_pq_rerank(
        emb, qs, k=4, nprobe=3, shortlist=80, nsub=8, dsub=8, ncent=16
    )
    want = cosine_topk_bruteforce(emb, qs, k=4)
    g = sorted((r.query_id, r.rank, r.neighbor_id, r.cos) for r in got.collect())
    w = sorted((r.query_id, r.rank, r.neighbor_id, r.cos) for r in want.collect())
    assert g == w
    assert {r.n_candidates for r in got.collect()} == {79}


def test_pq_encode_label_passthrough(spark):
    """pq_encode with label_col carries the cell label through the
    Arrow stage without changing any code assignment."""
    import random

    from bigdataflink_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], i % 5)
        for i in range(70)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cb = pq_codebook(emb, ncent=16)
    plain = {r.id: r.codes for r in pq_encode(emb, cb).collect()}
    labeled = pq_encode(emb, cb, label_col="label").collect()
    assert {r.id: r.codes for r in labeled} == plain
    assert all(r.label == r.id % 5 for r in labeled)


def test_int8_topk_excludes_zero_vectors(spark):
    """ADVICE r10: an all-zero corpus vector quantizes to qvec of
    zeros with c_nn = 0 -> qscore NaN, which Spark sorts LARGEST.
    The guard must keep zero vectors out of every ranking."""
    from bigdataflink_spark.operators.similarity import (
        int8_topk,
        quantize_int8,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.5, -0.25]),
            (1, [0.9, 0.55, -0.2]),
            (2, [0.0, 0.0, 0.0]),   # zero vector — must never rank
            (3, [-1.0, 0.3, 0.8]),
        ],
        "vec_id long, embedding array<float>",
    )
    qz = quantize_int8(emb)
    out = int8_topk(qz, qz.filter("id = 0"), k=3).collect()
    ranked = [r.neighbor_id for r in out]
    assert 2 not in ranked
    assert ranked[0] == 1  # the near-parallel vector wins


def test_pq_rejects_sparse_or_empty_codebook(spark):
    """ADVICE r10: a corpus missing ids 0..ncent-1 must produce a
    CLEAR error from pq_encode (not an opaque max() crash or
    zero-filled centroids that skew every assignment)."""
    import pytest as _pytest

    from bigdataflink_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    # ids start at 1000 -> pq_codebook's id<ncent sample is empty
    emb = spark.createDataFrame(
        [(1000 + i, [float(i)] * 16) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    cb = pq_codebook(emb, nsub=2, dsub=8, ncent=4)
    with _pytest.raises(ValueError, match="empty codebook"):
        pq_encode(emb, cb, nsub=2, dsub=8).collect()


def test_bpe_segment_census_applies_merges(spark):
    """The encode census reflects the trained merges: on the Sennrich
    toy corpus after 5 merges, 'low' is a single symbol with corpus
    count 6 (4 standalone + lower + lowest) and 'new' counts 3."""
    from bigdataflink_spark.operators.text import bpe_segment_census

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    out = {r.symbol: r for r in bpe_segment_census(docs, n_merges=5).collect()}
    assert out["low"].n_occurrences == 6 and out["low"].sym_len == 3
    assert out["new"].n_occurrences == 3
    assert out["er"].n_occurrences == 2  # merge 5 paid for itself
    # ranks are 1..n with the deterministic (count desc, symbol) order
    ranks = sorted(r.rank for r in out.values())
    assert ranks == list(range(1, len(ranks) + 1))


def test_pq_kmeans_codebook_dense_deterministic_not_worse(spark):
    """Lloyd-trained PQ codebook (round 13): the trained frame stays
    DENSE (every (sub, cent) present — empty clusters coalesce to
    their previous centroid, so pq_encode's density check holds by
    construction), training is deterministic run-to-run (6dp-rounded
    centroid updates, fixed-order folds, lowest-cent ties), and on
    the fair query set (ids 300-309 — atoms of neither codebook) the
    trained codebook's recall never drops below the sampled one's
    (q242's value-checked claim, asserted here at sf0.001)."""
    from bigdataflink_spark.operators.similarity import (
        pq_codebook_kmeans,
        pq_encode,
    )
    from bigdataflink_spark.plans.queries import QUERIES
    from bigdataflink_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, "embeddings", sf)
    cb = pq_codebook_kmeans(emb, iters=2, train_ids=256)
    rows1 = sorted(
        (r.sub, r.cent, tuple(r.cv)) for r in cb.collect()
    )
    rows2 = sorted(
        (r.sub, r.cent, tuple(r.cv))
        for r in pq_codebook_kmeans(emb, iters=2, train_ids=256).collect()
    )
    assert rows1 == rows2  # deterministic trajectory
    assert {(s_, c) for s_, c, _ in rows1} == {
        (s_, c) for s_ in range(8) for c in range(64)
    }  # dense grid
    # the trained frame is a drop-in for pq_encode (density check ok)
    assert pq_encode(emb, cb).count() == emb.count()
    out = QUERIES["q242_pq_kmeans_ann"](spark, sf).collect()
    assert len(out) == 10
    assert all(r.trained_not_worse for r in out)
    assert out[0].recall50_trained >= out[0].recall50_sampled
