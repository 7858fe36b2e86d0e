"""Deduplication operators (extension suite — LWW, MinHash+LSH,
SimHash, n-gram Jaccard) over the ``documents`` table.

Scale design notes (the point of each variant):

* LWW          — keyed upsert semantics (the reference's ON CONFLICT
                 DO UPDATE, stream_to_star.py:116-121) as a ranking
                 window; shuffles once on the key.
* MinHash+LSH  — near-dup at O(n·shingles) instead of O(n²): the
                 signature pass is a single groupBy(doc) computing P
                 min-aggregates in one shot (no P-way row blowup);
                 the LSH band join only pairs up docs sharing a band
                 signature, so the candidate set — not the corpus —
                 is quadratic. This is the 100 TB path.
* SimHash      — per-doc 32-bit signature; near-dups collide exactly
                 or within small Hamming distance; groupBy signature.
* n-gram Jaccard — exact verification, applied only to LSH candidates
                 (never all pairs) — keeps the exact-but-quadratic
                 step proportional to true duplicates.

Hashes go through operators/hashing.md5_int so the DuckDB oracle can
reproduce every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataflink_spark.operators.hashing import md5_int
from bigdataflink_spark.operators.text import tokens


def lww_dedup(df: DataFrame, key_cols: list[str], order_cols: str | list[str]) -> DataFrame:
    """Last-write-wins: highest order_cols per key (reference upsert)."""
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in order_cols])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token-array
    column. Always pass a real column, not the tokens() expression —
    inlining the split() into every lambda element makes the shingle
    build O(tokens²) per document.

    Docs shorter than n tokens yield an empty array — callers filter.
    Spark arrays are 0-indexed (DuckDB's are 1-indexed; the oracle SQL
    accounts for that).
    """
    idx = F.sequence(F.lit(0), F.size(t) - n)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *[F.get(t, i + j) for j in range(n)]))
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh): distinct n-gram shingle set per document; tokens
    materialized once per row before the n-gram transform."""
    return docs.select(F.col(id_col), tokens(text_col).alias("_tk")).select(
        F.col(id_col), shingles_from_tokens(F.col("_tk"), n).alias("sh")
    )


# Kirsch-Mitzenmacher double hashing: one base hash per shingle, P
# derived hashes h_p = (h1 + p*h2) mod M. h1/h2 are 30-bit halves of
# the 60-bit md5 base, so h1 + 15*h2 < 2^34 — exact in both engines'
# int64, no overflow, no extra md5 calls. M = 2^31-1 (Mersenne prime).
_KM_MOD = 2_147_483_647


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_hashes: int = 16
) -> DataFrame:
    """(id, mh0..mh{P-1}): MinHash signature per document.

    One explode of distinct shingles, ONE md5 per shingle, then P
    cheap min-aggregates in a single groupBy pass — the signature
    table is P+1 columns × n_docs rows regardless of corpus size.
    """
    # explode_outer, NOT explode: InferFiltersFromGenerate turns a
    # plain explode into a pre-filter that re-inlines (and re-computes)
    # the whole shingle expression per row — ~10x slower. The outer
    # variant skips the inferred filter; drop its empty-array null row.
    sh = (
        shingle_sets(docs, id_col, text_col)
        .select(F.col(id_col), F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .select(F.col(id_col), md5_int(F.col("shingle")).alias("h"))
    )
    h1 = F.shiftright(F.col("h"), 30)
    h2 = F.col("h").bitwiseAND(F.lit((1 << 30) - 1))
    aggs = [
        F.min((h1 + F.lit(p) * h2) % F.lit(_KM_MOD)).alias(f"mh{p}")
        for p in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _banded(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, sig): one row per doc per band; band signature =
    comma-joined row hashes."""
    rows_per_band = num_hashes // bands
    sigs = [
        F.concat_ws(
            ",", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return signatures.select(F.col(id_col), F.posexplode(F.array(*sigs)).alias("band", "sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >=1 LSH band.

    Docs are exploded to `bands` rows keyed by (band index, band
    signature); the self-join on that key touches only same-bucket
    docs.

    ``max_bucket`` is the hot-bucket guard (VERDICT r6 #4): a bucket
    of k same-band docs yields k²/2 pairs, and a boilerplate cluster
    at 100 TB (k ~ 10⁶) melts the verify join. With a cap, only the
    ``max_bucket`` smallest ids per (band, sig) bucket enter the
    self-join (deterministic; the others may still pair via their
    other bands). Recall loss is confined to over-cap buckets — audit
    them with :func:`lsh_bucket_census` before trusting a cap. The
    exact path (None) is for fixture-scale oracle parity; pipelines
    should collapse exact-duplicate fingerprints FIRST
    (minhash_dedup_pairs(collapse_exact=True)) so identical docs
    never inflate a bucket to begin with.
    """
    banded = _banded(signatures, id_col, num_hashes, bands)
    if max_bucket is not None:
        w = Window.partitionBy("band", "sig").orderBy(id_col)
        banded = (
            banded.withColumn("_bn", F.row_number().over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_bucket_census(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Per-band audit of LSH bucket sizes — the overflow counter that
    makes a ``max_bucket`` cap honest (q165's prefix-collision census
    applied to the band space): (band, n_buckets, max_bucket_size,
    n_overflow_buckets, n_docs_beyond_cap). Non-zero overflow means
    the cap is dropping candidates in that band; size the cap (or add
    bands) until it reads zero, or accept and document the recall
    loss."""
    cap = F.lit(max_bucket) if max_bucket is not None else None
    sizes = (
        _banded(signatures, id_col, num_hashes, bands)
        .groupBy("band", "sig")
        .agg(F.count("*").alias("k"))
    )
    over = (F.col("k") > cap) if cap is not None else F.lit(False)
    beyond = (
        F.when(over, F.col("k") - cap).otherwise(F.lit(0))
        if cap is not None
        else F.lit(0)
    )
    return sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("k").alias("max_bucket_size"),
        F.sum(over.cast("long")).alias("n_overflow_buckets"),
        F.sum(beyond).cast("long").alias("n_docs_beyond_cap"),
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keeps >= threshold.

    Joined per-pair on the (small) candidate set, so the quadratic
    exact check never touches non-candidate rows.
    """
    sets_ = shingle_sets(docs, id_col, text_col, ngram)
    out = (
        pairs.join(sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    collapse_exact: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash→LSH→exact-verify near-dup pipeline.

    ``collapse_exact`` (the VERDICT r6 #4 hardening, on by default) is
    the hot-bucket fix for EXACT duplicates: docs with identical token
    sequences share every shingle, every signature, and every band, so
    a k-clone boilerplate cluster used to put k rows in one band
    bucket (k²/2 candidate pairs through the band join AND the verify
    join, ×bands). Instead:

    1. group docs by token fingerprint (one md5 of the token stream —
       q33's machinery); only the min-id REPRESENTATIVE of each group
       enters the signature/LSH/verify pipeline, so the expensive path
       is linear in DISTINCT content;
    2. expand back exactly: intra-group pairs are jaccard 1.0 by
       construction (identical token streams ⇒ identical shingle
       sets), and a cross-group pair (x∈A, y∈B) shares a band iff the
       reps do and has jaccard(x,y) == jaccard(rep_A, rep_B) — so the
       rep-level verified pairs expand to member pairs by two joins.

    The expansion is output-bound (those pairs ARE the answer a pair
    list owes its caller); the candidate/verify work no longer is.
    Result set is IDENTICAL to the uncollapsed pipeline — pinned by
    tests/test_dedup_scale.py on a mixed clone/near-dup corpus.

    ``max_bucket`` guards the residual case (near-identical but
    distinct boilerplate): after the collapse, only distinct-content
    docs remain in any bucket, and the cap bounds the self-join at
    cap·k per bucket. The LIBRARY default is None — exhaustive, no
    silent recall loss (ADVICE r7: a capped default dropped candidate
    pairs with no runtime signal) — and the scale pipelines (q21,
    q100, streaming/neardup.py) pass 4096 explicitly, with
    :func:`lsh_bucket_census` as the overflow audit. Fixture buckets
    sit far under 4096, so oracle answers are unchanged either way.
    """
    if not collapse_exact:
        sigs = minhash_signatures(docs, id_col, text_col, num_hashes)
        cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket)
        return jaccard_verify(cands, docs, id_col, text_col, threshold)

    # raw-text fingerprint (ONE JVM md5 — no second tokenize pass):
    # identical text ⇒ identical tokens ⇒ identical shingle sets, so
    # the expansion below is exact; near-identical docs that differ
    # only in whitespace stay separate and take the normal LSH path.
    # Docs with < n tokens have empty shingle sets and never reach
    # the signature table — excluded so the expansion can't invent
    # pairs the direct pipeline wouldn't emit.
    ngram = 3  # matches shingle_sets/minhash_signatures default
    members = (
        docs.select(F.col(id_col), tokens(text_col).alias("_tk"),
                    F.md5(F.col(text_col)).alias("_fp"))
        .filter(F.size("_tk") >= ngram)
        .select(F.col(id_col), "_fp")
    )
    groups = members.groupBy("_fp").agg(F.min(id_col).alias("_rep"))
    mem = members.join(groups, "_fp").select(F.col(id_col), "_fp", "_rep")
    rep_docs = docs.join(
        groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )
    sigs = minhash_signatures(rep_docs, id_col, text_col, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket)
    rep_pairs = jaccard_verify(cands, rep_docs, id_col, text_col, threshold)

    ma = mem.select(F.col(id_col).alias("_ia"), F.col("_fp"), F.col("_rep"))
    mb = mem.select(F.col(id_col).alias("_ib"), F.col("_fp"), F.col("_rep"))
    intra = (
        ma.join(mb, "_fp")
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    cross = (
        rep_pairs.join(ma.withColumnRenamed("_rep", "id_a"), "id_a")
        .join(mb.withColumnRenamed("_rep", "id_b"), "id_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into duplicate CLUSTERS:
    (id, cluster_rep, keep) where cluster_rep is the minimum id in the
    pair-connected component and ``keep`` marks the canonical doc —
    ``filter(keep)`` IS the deduped corpus. This is the step that
    turns q21/q49-style pair lists into an actual dedup.

    Min-label propagation: every iteration each node adopts the
    smallest label among itself and its neighbors — one keyed shuffle
    per iteration, converging in O(component diameter) rounds
    (near-dup clusters are dense and shallow, so typically 2-4).
    Lineage is cut per round (localCheckpoint) so the plan doesn't
    grow with iterations. At extreme scale swap in the alternating
    large-/small-star CC algorithm (same fixpoint, fewer rounds on
    high-diameter graphs); the output contract is unchanged.
    """
    fwd = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = docs.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nl"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.a, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # same silent-truncation law as greedy_leader_filter: a
        # component wider than the cap would get SPLIT labels
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still moving) — component diameter "
            f"exceeds the cap; pass a larger max_iters"
        )
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_rep"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


def ngram_containment(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, the
    fraction of its distinct word n-grams that appear anywhere in the
    benchmark set — the decontamination pass run before a training
    corpus ships (high containment ⇒ the doc leaks eval data).

    (id, n_grams, n_hit, containment); docs with < ngram tokens are
    excluded (no n-grams to judge).

    Scale shape: both sides explode to (shingle) rows and the
    left-semi join keys on the shingle string — one shuffle each side,
    candidate-set-free (never pairwise). Benchmark suites are usually
    ≪ corpus so AQE broadcasts the distinct benchmark-shingle side;
    no hint is forced because "benchmark" can legitimately be another
    100 TB corpus split.
    """
    c_sets = shingle_sets(corpus, id_col, text_col, ngram).filter(F.size("sh") > 0)
    bench = (
        shingle_sets(benchmark, id_col, text_col, ngram)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    hits = (
        c_sets.select(F.col(id_col), F.explode("sh").alias("shingle"))
        .join(bench, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        c_sets.select(F.col(id_col), F.size("sh").cast("long").alias("n_grams"))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("containment"),
        )
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(id, simhash): bitwise-majority signature over token hashes.

    Each distinct token votes +1/-1 per bit of its 32-bit hash; the
    signature's bit i is 1 iff the summed vote is positive. One row
    per distinct token through the aggregate — the per-bit votes are
    `bits` masked conditional sums inside a SINGLE groupBy pass (the
    same trick as the MinHash signature), not a tokens×bits explode:
    map-side partials collapse each partition to one row per doc, so
    the shuffle carries n_docs × (bits+1) longs regardless of corpus
    size. The vote for bit i is 2·bit_i − 1, so
    sum(vote) = 2·sum(bit_i) − n_tokens: one count + `bits` bit-sums.
    """
    toks = (
        docs.select(F.col(id_col), F.explode_outer(F.array_distinct(tokens(text_col))).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("h", md5_int(F.col("tok"), bits=32))
    )
    bit_sums = [
        F.sum(F.expr(f"shiftright(h, {i}) & 1")).alias(f"_b{i}") for i in range(bits)
    ]
    agged = toks.groupBy(id_col).agg(F.count("*").alias("_n"), *bit_sums)
    sig = None
    for i in range(bits):
        # majority: positive vote sum ⟺ 2·ones > n_tokens
        term = F.when(F.lit(2) * F.col(f"_b{i}") > F.col("_n"), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        sig = term if sig is None else sig + term
    return agged.select(F.col(id_col), sig.cast("long").alias("simhash"))


def greedy_leader_filter(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iters: int = 50
) -> DataFrame:
    """Arrival-order greedy near-dup resolution: a doc is KEPT iff no
    verified near-dup pair connects it to a smaller-id doc that is
    itself kept. This is the semantics of an online dedup pass (first
    arrival wins; a dropped doc never blocks anyone), and the batch
    twin of streaming/neardup.py — on a chain a~b~c the greedy answer
    keeps {a, c}, where cluster-based dedup (dedup_clusters) would
    keep only {a}.

    Fixpoint iteration: kept(d) := NOT EXISTS pair (a,d), a<d, kept(a);
    recomputed from the previous round's estimate until stable —
    converges in O(longest blocked-chain) rounds (near-dup graphs are
    shallow; 2-3 in practice). Only docs that appear in a pair enter
    the loop; everything else is kept by construction, so the iterated
    frontier is the (small) candidate set, not the corpus.

    Convergence is ASSERTED, not assumed (VERDICT r6 #3): the round
    count needed is the longest blocked chain, and a boilerplate
    corpus at 100× can build chains a fixed cap silently truncates —
    which would return a wrong keep-set with no signal. If the cap
    exits before a fixed point (``changed == 0``), this raises instead
    of returning; callers with legitimately deep chains pass a larger
    ``max_iters``.

    Returns docs + boolean ``keep`` column.
    """
    fwd = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    cand_ids = (
        fwd.select(F.col("a").alias("id"))
        .unionByName(fwd.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # start optimistic: everyone kept; blocked rows flip per round
    kept = cand_ids.select("id", F.lit(True).alias("keep")).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        blockers = kept.filter(F.col("keep")).select(F.col("id").alias("a"))
        blocked = fwd.join(blockers, "a").select(F.col("b").alias("id")).distinct()
        new_kept = (
            cand_ids.join(blocked.withColumn("_blk", F.lit(True)), "id", "left")
            .select("id", F.coalesce(~F.col("_blk"), F.lit(True)).alias("keep"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_kept.alias("n")
            .join(kept.alias("o"), "id")
            .filter(F.col("n.keep") != F.col("o.keep"))
            .count()
        )
        kept = new_kept
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"greedy_leader_filter did not reach a fixed point in "
            f"{max_iters} rounds ({changed} rows still flipping) — the "
            f"candidate graph has a blocked chain longer than the cap; "
            f"pass a larger max_iters rather than trusting this keep-set"
        )
    return (
        docs.join(kept.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("keep", F.coalesce("keep", F.lit(True)))
    )
