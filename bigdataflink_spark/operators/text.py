"""Text-analysis operators over the ``documents`` table (extension
suite — SURVEY.md §7 step 6; a training-data pipeline's text pass).

All pure Catalyst column expressions (JVM, codegen) — no Python in the
hot path. Tokenization is a plain single-space split with empty tokens
dropped, chosen because both Spark and DuckDB reproduce it exactly
(oracle parity); swap the leaf for a regex tokenizer when the corpus
needs it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# Tiny deterministic stopword list shared with the oracle SQL.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(c: str | Column) -> Column:
    """Nonempty single-space tokens."""
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(col, " "), lambda t: t != F.lit(""))


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens that are stopwords (double)."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return hits.cast("double") / F.size(toks).cast("double")


def type_token_ratio(toks: Column) -> Column:
    """Distinct tokens / total tokens — crude lexical-diversity score."""
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double")


def quality_score(toks: Column, n_chars: Column) -> Column:
    """Heuristic document-quality score in [0, 1].

    0.4 * length factor (saturates at 200 tokens)
    + 0.3 * lexical diversity
    + 0.3 * stopword plausibility (natural text has some stopwords).
    Deliberately simple arithmetic so the oracle reproduces it
    bit-for-bit in double precision.
    """
    n = F.size(toks).cast("double")
    length_factor = F.least(n / F.lit(200.0), F.lit(1.0))
    diversity = type_token_ratio(toks)
    stop_plausible = F.least(stopword_ratio(toks) * F.lit(10.0), F.lit(1.0))
    return length_factor * F.lit(0.4) + diversity * F.lit(0.3) + stop_plausible * F.lit(0.3)


def lang_id(toks: Column) -> Column:
    """n-gram-free heuristic language ID: English-stopword density.

    Real corpora: per-language character-n-gram profiles; this corpus
    is synthetic shared-vocabulary text, so the heuristic demonstrates
    the operator shape (score -> argmax label) deterministically.
    """
    r = stopword_ratio(toks)
    return (
        F.when(r >= F.lit(0.08), F.lit("en"))
        .when(r >= F.lit(0.04), F.lit("und"))
        .otherwise(F.lit("other"))
    )


# PII patterns, ordered (emails first: a phone-lookalike inside an
# address must already be gone). Plain RE2-compatible syntax so the
# same pattern strings run verbatim in Spark (Java regex) and the
# DuckDB oracle (RE2) — no lookarounds, no backrefs.
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("PHONE", r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"),
)


def redact_pii(c: str | Column) -> Column:
    """Replace emails/phone numbers with <EMAIL>/<PHONE> tags — the
    scrubbing pass a training corpus runs before anything else.
    Pure regexp_replace chain (scan-stage, zero shuffles); counts of
    what was removed come from ``pii_counts`` so the redaction is
    auditable (q74 value-hash-checks the redacted bytes via md5)."""
    col = F.col(c) if isinstance(c, str) else c
    for tag, pat in PII_PATTERNS:
        col = F.regexp_replace(col, pat, f"<{tag}>")
    return col


def pii_counts(c: str | Column) -> list[Column]:
    """[n_emails, n_phones] match counts (pre-redaction)."""
    col = F.col(c) if isinstance(c, str) else c
    return [
        F.regexp_count(col, F.lit(pat)).alias(f"n_{tag.lower()}s")
        for tag, pat in PII_PATTERNS
    ]


def token_count_regex(c: str | Column) -> Column:
    """BPE-ish token count: alpha runs + digit runs via regex."""
    col = F.col(c) if isinstance(c, str) else c
    low = F.lower(col)
    return (F.regexp_count(low, F.lit("[a-z]+")) + F.regexp_count(low, F.lit("[0-9]+"))).cast(
        "long"
    )


def fingerprint(c: str | Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    col = F.col(c) if isinstance(c, str) else c
    normalized = F.trim(F.regexp_replace(F.lower(col), " +", " "))
    return F.md5(normalized)


def bind_once(arr: Column, f) -> Column:
    """Evaluate ``arr`` ONCE per row and apply ``f`` to the bound
    value: ``transform(array(arr), x -> f(x))[1]``. Catalyst has no
    subexpression elimination across higher-order-function lambdas,
    and filter pushdown inlines projected aliases into predicates —
    so an expression like ``tokens(text)`` referenced k times inside
    one gate/feature expression is otherwise re-evaluated k times
    (the round-13 plan audit measured the q237 gate re-splitting each
    doc's text O(n²) times through ngrams' per-element F.get).
    The lambda variable is a true binding: the array is computed
    once, every reference inside ``f`` is O(1)."""
    return F.element_at(F.transform(F.array(arr), f), 1)


def ngrams(t: Column, n: int) -> Column:
    """Order-preserving (NON-distinct) word n-grams from a token-array
    expression — the repetition detectors need multiplicity, unlike
    dedup.shingles_from_tokens which distincts. Docs shorter than n
    tokens yield an empty array.

    The input is bound ONCE (bind_once): per-gram element access hits
    the bound array, not the original expression — with an inlined
    ``tokens(text)`` input the old form re-split the text 2·n times
    per row (10.8 s of the 15 s q237 gate at sf0.1; 0.9 s bound)."""
    def _g(tt: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(tt) - n)
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.get(tt, i + j) for j in range(n)]),
        )
        return F.when(F.size(tt) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(t, _g)


def dup_token_ratio(t: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    Gopher-style repetition signal (1 - distinct/total)."""
    return F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")


def top_token_ratio(t: Column) -> Column:
    """Most-frequent-token share of the document.

    Per-row O(distinct·total) array scan — pure JVM expression, zero
    shuffles, fine for document-length arrays (the corpus's docs are
    ~100 tokens). For pathological multi-MB single documents, the
    explode+groupBy twin is the fallback; never needed here because
    the ratio only feeds a threshold filter."""
    counts = F.transform(
        F.array_distinct(t), lambda x: F.size(F.filter(t, lambda y: y == x))
    )
    return F.array_max(counts).cast("double") / F.size(t).cast("double")


def dup_ngram_ratio(t: Column, n: int) -> Column:
    """Fraction of word n-grams that are duplicates — the classic
    duplicate-line/paragraph proxy for corpora without line structure.
    NULL for docs with < n tokens (no n-grams to judge). The gram
    array is bound once (bind_once) — the three references below
    would otherwise each rebuild it."""
    return bind_once(
        ngrams(t, n),
        lambda g: F.when(
            F.size(g) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(g)).cast("double")
            / F.size(g).cast("double"),
        ),
    )


def passages(t: Column, width: int = 3) -> Column:
    """Non-overlapping ``width``-token passages of a MATERIALIZED
    token-array column (last passage may be shorter). The unit of
    exact passage-level dedup — the cross-document "repeated span"
    detector training pipelines run after whole-doc dedup.

    Empty docs yield an empty array; ``sequence`` would otherwise
    count DOWN from 0 to -1 and emit a phantom passage."""
    n = F.ceil(F.size(t) / F.lit(float(width))).cast("int")
    idx = F.sequence(F.lit(0), n - 1)
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(t, i * width + 1, width), " ")
    )
    return F.when(F.size(t) > 0, grams).otherwise(F.array().cast("array<string>"))


def passage_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
) -> DataFrame:
    """Per-doc passage duplication: (id, n_passages, n_shared,
    dup_ratio) where n_shared counts this doc's distinct passages that
    also appear in >= 1 OTHER doc.

    Shape: one explode to distinct (doc, passage) rows, one groupBy
    on passage for document frequency, one join back, one groupBy on
    doc — two keyed shuffles total, no pairwise comparison, so cost is
    O(total passages) at any corpus size. Round 13: both shuffles key
    on a hash of the passage instead of the passage text (~3× fewer
    shuffle bytes — the oracle still counts passage strings). Round
    14: the key is 128 bits — TWO seeded xxhash64 columns (the second
    prepends a literal, which reseeds the chained hash), heuristically
    independent for non-adversarial input — because a 64-bit key is
    only safe at bench scale: at the 100 TB design point the
    distinct-passage population is ~10¹¹ and the 64-bit birthday bound
    (~5·10⁹) is crossed, making silent merges of distinct passages
    EXPECTED (thousands of them), each inflating a doc's n_shared. If
    the two columns behave as independent 64-bit hashes, the
    expectation at 128 bits is ~n²/2¹²⁹ ≈ 10⁻¹⁷ for n=10¹¹. That is an
    estimate, not a guarantee: xxhash64 is neither keyed nor
    cryptographic, and crafted input can collide both columns.
    16 B of key vs ~20 B of passage text keeps most of the byte win;
    the 3-SF sweeps additionally pin exact equality on the tested
    corpora."""
    doc_pass = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(passages(tokens(text_col), width))).alias(
            "passage"
        ),
    ).select(
        F.col(id_col),
        F.xxhash64("passage").alias("_ph"),
        F.xxhash64(F.lit(1), "passage").alias("_ph2"),
    )
    df_counts = doc_pass.groupBy("_ph", "_ph2").agg(
        F.count("*").alias("_nd")  # rows are distinct per doc already
    )
    return (
        doc_pass.join(df_counts, ["_ph", "_ph2"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_passages"),
            F.sum((F.col("_nd") >= 2).cast("long")).alias("n_shared"),
            F.round(
                F.sum((F.col("_nd") >= 2).cast("long"))
                / F.count("*").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    by_col: str = "lang",
    text_col: str = "text",
    coverage: float = 0.9,
) -> DataFrame:
    """Tokenizer-vocabulary sizing per group: (group, n_terms,
    total_tokens, n_terms_cov) where n_terms_cov is the smallest
    prefix of terms (by descending frequency, term as tie-break) whose
    cumulative frequency reaches ``coverage`` of the group's tokens.

    Shape: explode -> groupBy (group, term) with map-side partial
    aggregation -> one window cumsum per group -> final agg. The
    window sort is per-group over the VOCABULARY (distinct terms),
    which stays millions-not-billions even at 100 TB corpus size, so
    the per-group sort is the cheap part; the explode+agg dominates
    and scales linearly."""
    term_freq = (
        docs.select(F.col(by_col).alias("grp"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("freq"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.desc("freq"), F.asc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("grp")
    ranked = term_freq.select(
        "grp",
        "freq",
        F.sum("freq").over(w).alias("_cum"),
        F.sum("freq").over(tot).alias("_tot"),
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.count("*").alias("n_terms"),
            F.max("_tot").cast("long").alias("total_tokens"),
            (
                F.sum((F.col("_cum") < F.col("_tot") * F.lit(coverage)).cast("long"))
                + F.lit(1)
            ).alias("n_terms_cov"),
        )
        .select(F.col("grp").alias(by_col), "n_terms", "total_tokens", "n_terms_cov")
    )


def mean_token_len(t: Column) -> Column:
    """Mean characters per token (double) — integer sum / count, so
    both engines divide the same exact operands."""
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(t).cast("double")


def gopher_gate(text_col: "str | Column") -> Column:
    """The q86/q237/q241 Gopher-style quality gate as ONE boolean
    expression with the tokenization bound once: length band, mean
    word length, stopword floor, bigram-repetition cap. Semantically
    identical to AND-ing the four gate expressions over tokens(text)
    — but that form re-splits the text per sub-expression once filter
    pushdown inlines the token alias (measured 12.9 s → 1.6 s for the
    q237 gate pass at sf0.1)."""
    return bind_once(
        tokens(text_col),
        lambda tk: (F.size(tk) >= 30)
        & (F.size(tk) <= 5000)
        & mean_token_len(tk).between(2.5, 12.0)
        & (stopword_ratio(tk) >= 0.02)
        & F.coalesce(dup_ngram_ratio(tk, 2) <= 0.4, F.lit(False)),
    )


def substring_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per doc, the MAXIMAL
    repeated token spans of length >= ``min_len`` — arbitrary-length,
    not the fixed non-overlapping passages of passage_dedup_stats.

    Contract: a token position is DUPLICATED iff some length-L window
    covering it occurs >= 2 times in the corpus (other docs or other
    positions of the same doc — Lee et al. dedup within documents
    too). A doc's duplicated positions are reported as maximal merged
    intervals: (n_spans, dup_tokens = union coverage, max_span). The
    suffix-array machinery of the paper is a single-node construction;
    this is the distributed equivalent for the same accounting —
    every maximal repeated span of length S >= L appears as a run of
    S - L + 1 duplicated window starts, which the interval merge
    reassembles exactly.

    Shape (all linear, no pairwise comparison):
      1. one projection: overlapping L-token windows with positions
         (posexplode), immediately reduced to (id, n_tokens, pos,
         xxhash64(window)) and materialized ONCE (localCheckpoint) —
         the window table feeds both the census and the join-back,
         and without the checkpoint Spark re-scans the corpus and
         re-generates every window string for each consumer (the
         round-13 plan audit showed 2 full Generate subtrees);
      2. one groupBy on the 128-bit window hash (two seeded xxhash64
         columns — see :func:`_dup_window_starts` for why 64 bits is
         not enough at 100 TB) for global occurrence counts
         (map-side partial aggregation applies) — shuffling 16 B of
         hash instead of the ~L-token window text cuts shuffle bytes
         ~4× (the oracle still groups by the window text; collision
         expectation at 10¹² windows is ~10⁻¹⁵, and the 3-SF sweeps
         pin exact equality on the tested corpora);
      3. one join back on the window hash, keeping duplicated starts;
      4. per-doc interval merge via lag() — window starts are sorted
         per doc, and end = pos + L - 1 is monotonic in pos, so a new
         span begins exactly when pos > lag(pos) + L; no running max
         needed.
    Salt the count of any pathological ultra-hot window at 100 TB.
    """
    L = int(min_len)
    dup = _dup_window_starts(
        docs, id_col, text_col, L, keep_first=False, with_ntokens=True
    )
    return merge_duplicated_spans(dup, id_col, L)


def _dup_window_starts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
    keep_first: bool,
    with_ntokens: bool,
) -> DataFrame:
    """Shared head of the batch substring-dedup family: the DUPLICATED
    window starts (id[, n_tokens], pos) of ``docs``, computed on
    hashed window keys with the window table materialized once.

    Round-13 optimization (guide §2.3/§2.4): the window table is
    reduced to fixed-width rows BEFORE any exchange and
    localCheckpoint'ed, so (a) the corpus is scanned and the O(total
    tokens) window strings generated ONCE instead of twice (census +
    join-back no longer each re-run the Generate subtree), and (b)
    both exchanges carry the fixed-width hash, not ~60 B of window
    text. The hash is pure codegen (xxhash64), no Python.

    Round 14 (VERDICT r13 "What's wrong #1"): the key is 128 bits —
    TWO seeded xxhash64 columns. ``xxhash64(lit(1), gram)`` folds the
    literal into the running hash first, which reseeds the gram hash,
    so the pair is heuristically independent for non-adversarial input
    (a SUFFIX literal would instead make the second column a function
    of the first — zero added entropy).
    A single 64-bit key was verified collision-free at the tested SFs
    but is NOT safe at the declared 100 TB target: with ~10¹¹–10¹²
    distinct windows the 64-bit birthday bound (~5·10⁹) is crossed
    and thousands of silent window merges are EXPECTED — in the
    drop-all path each one excises text that is not duplicated, and
    in the keep-first path a collision can delete every copy of a
    unique passage (the colliding gram's election has one winner, so
    the losing gram loses even its first occurrence). At 128 bits the
    collision expectation is ~n²/2¹²⁹ ≈ 10⁻¹⁵ for n=10¹² under that
    independence heuristic — an estimate, not a guarantee (xxhash64
    is neither keyed nor cryptographic). Shuffle width is 16 B of key, still
    ~4× narrower than the window strings. The DuckDB oracles keep
    grouping by the window TEXT: the 3-SF sweeps additionally pin
    exact equality on the tested corpora. The streaming twin
    (streaming/substrdedup.py) is UNCHANGED — its state contract
    (salted md5-60 on both engines) is part of the DECLARED oracle
    contract; its ceiling is documented there.

    ``keep_first``: also elect min(struct(id, pos)) per window inside
    the SAME aggregation (no extra shuffle; partial aggregation
    shields ultra-hot windows) and exempt the elected occurrence.
    """
    L = int(min_len)
    cols = [id_col, "n_tokens", "pos"] if with_ntokens else [id_col, "pos"]
    # LAZY checkpoint: materializes once, on the first action that
    # actually needs the window table, and is then reused by the
    # census AND the join-back (one corpus scan + one Generate). A
    # count()-style probe whose optimized plan eliminates the whole
    # dup subtree (q231's left-outer join is provably 1:1) never pays
    # for it — eager=True would force the materialization even then.
    win = (
        substring_windows(docs, id_col, text_col, L)
        .select(
            *cols,
            F.xxhash64("gram").alias("_gh"),
            F.xxhash64(F.lit(1), "gram").alias("_gh2"),
        )
        .localCheckpoint(eager=False)
    )
    if keep_first:
        agg = win.groupBy("_gh", "_gh2").agg(
            F.count("*").alias("_n"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
            ).alias("_first"),
        )
        cond = (F.col("_n") >= 2) & ~(
            (F.col(id_col) == F.col("_first.i"))
            & (F.col("pos") == F.col("_first.p"))
        )
    else:
        agg = win.groupBy("_gh", "_gh2").agg(F.count("*").alias("_n"))
        cond = F.col("_n") >= 2
    # The duplicated-window table GROWS WITH THE CORPUS (every corpus
    # has more distinct repeated windows at 100× the data), so it
    # must never broadcast: AQE's post-filter size guess undershoots
    # and the driver OOMs building the HashedRelation (reproduced at
    # the ×100 probe — ~1M+ grams). shuffle_hash keys both sides on
    # the hash: one linear exchange, build side bounded per partition
    # by spark.sql.shuffle.partitions.
    return (
        win.join(agg.hint("shuffle_hash"), ["_gh", "_gh2"])
        .filter(cond)
        .select(*cols)
    )


def merge_duplicated_spans(
    dup: DataFrame, id_col: str, min_len: int
) -> DataFrame:
    """Shared interval-merge tail of substring dedup: given
    (id, n_tokens, pos) rows of DUPLICATED window starts, merge them
    into maximal spans and aggregate per-doc stats. Window starts are
    sorted per doc and end = pos + L - 1 is monotonic in pos, so a
    new span begins exactly when pos > lag(pos) + L. Used by the
    batch operator and the streaming twin (streaming/substrdedup.py).
    """
    L = int(min_len)
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + L, 1).otherwise(0)
    islands = dup.select(
        id_col, "n_tokens", "pos", brk.alias("_brk")
    ).select(
        id_col,
        "n_tokens",
        "pos",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_isl"),
    )
    spans = islands.groupBy(id_col, "n_tokens", "_isl").agg(
        (F.max("pos") - F.min("pos") + L).alias("_span_len")
    )
    return spans.groupBy(id_col, "n_tokens").agg(
        F.count("*").alias("n_spans"),
        F.sum("_span_len").cast("long").alias("dup_tokens"),
        F.max("_span_len").cast("long").alias("max_span"),
        F.round(
            F.sum("_span_len").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("dup_ratio"),
    ).select(
        id_col,
        "n_spans",
        "dup_tokens",
        "max_span",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_ratio",
    )


def substring_excise(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """The REPAIRED corpus — substring dedup's actual deliverable
    (Lee et al. 2022: the pipeline's output is clean training text,
    not a span report). Every token position covered by a duplicated
    window (the same contract as substring_span_stats) is EXCISED
    and the surviving tokens re-joined with single spaces.

    Policy: drop-all-repeats — every occurrence of a duplicated span
    is cut, including the first (the default of Lee et al.'s released
    exact-substring tool); the guarantee is strictly stronger for
    decontamination-style uses, at the documented cost of being
    aggressive on text that is popular BECAUSE it is good. The
    curation-grade alternative that elects a canonical first
    occurrence per window and keeps it is
    :func:`substring_excise_keep_first` (round 13) — same shuffle
    count, min-struct election fused into the gram aggregation.

    Shape: the q226 head unchanged (windows → counts → dup starts,
    counts join pinned off the broadcast path), dup starts merged to
    maximal per-doc intervals (lag idiom), intervals collected to a
    per-doc array (bounded by doc length — a doc already must fit an
    executor), then one JVM-side higher-order projection filters the
    token array against the interval list: O(n_tokens · n_spans) per
    doc, no Python, no extra shuffle beyond q226's. Docs shorter than
    ``min_len`` tokens pass through whitespace-normalized (no window
    can cover them). Output keeps EVERY doc: (id, *extra_cols,
    n_tokens, kept_tokens, removed_tokens, repaired) — ``extra_cols``
    are carried through unchanged so compositions (q237/q241) don't
    need a join back to recover sibling columns.

    Round 13: the windows → counts → dup-starts head runs on
    hashed keys with the window table materialized once
    (:func:`_dup_window_starts` — 1 corpus scan + 1 window Generate
    instead of 2 of each, 16-byte 128-bit shuffle keys since round
    14; same output, verified against the unchanged string-keyed
    oracles at three SFs)."""
    L = int(min_len)
    dup = _dup_window_starts(
        docs, id_col, text_col, L, keep_first=False, with_ntokens=False
    )
    return excise_from_dup(docs, dup, id_col, text_col, L, extra_cols)


def substring_excise_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """KEEP-FIRST excision (round 13, VERDICT r12 "Next round" #4):
    the curation-grade variant of :func:`substring_excise`. Drop-all-
    repeats is the right call for decontamination, but corpus curation
    usually wants popular-BECAUSE-good text to survive exactly once —
    so each duplicated window elects a global canonical occurrence
    (the minimum (id, pos) — arrival order; at 100 TB substitute
    arrival_seq for the id) and only the NON-elected occurrences are
    cut. A token position is excised iff some duplicated window
    covering it lost its election.

    Shape — the extra "who is first" election costs NO extra shuffle
    over drop-all-repeats: the same per-gram aggregation that counts
    occurrences also takes ``min(struct(id, pos))`` (struct ordering
    is lexicographic, so the min IS the earliest occurrence), both
    with map-side partial aggregation — this is why the election is a
    grouped min-struct rather than a per-gram ranked window, whose
    row_number would haul every occurrence of a pathological ultra-hot
    gram into one partition with no partial aggregation to shield it.
    The join back is the q226 template: corpus-derived build side,
    pinned ``shuffle_hash``, never broadcast.

    Caveat (inherent to window-level election, documented): when
    overlapping spans from DIFFERENT docs interleave, an elected
    window can still lose tokens to a neighbouring window that lost
    its own election — the guarantee is per-WINDOW (each duplicated
    L-gram survives at its earliest occurrence unless overlapped by a
    losing window), not per maximal span. On disjoint repeated
    passages — the common case — the first copy survives verbatim.
    Output schema = substring_excise's (incl. ``extra_cols``
    passthrough): every doc appears, untouched docs
    whitespace-normalized. Round 13: hashed-key materialized-once
    head (:func:`_dup_window_starts`), election fused into the same
    aggregation as before."""
    L = int(min_len)
    dup = _dup_window_starts(
        docs, id_col, text_col, L, keep_first=True, with_ntokens=False
    )
    return excise_from_dup(docs, dup, id_col, text_col, L, extra_cols)


def excise_from_dup(
    docs: DataFrame,
    dup: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
    extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Shared excision tail of substring dedup: given (id, pos) rows
    of DUPLICATED window starts, merge them into maximal per-doc
    intervals (the lag idiom), collect each doc's interval list
    (bounded by doc length), and cut the covered positions from the
    token array in ONE JVM-side higher-order projection. Used by the
    batch operator (substring_excise) and the streaming twin
    (streaming/substrdedup.py::accept_batch_excise). Every doc of
    ``docs`` appears in the output, untouched docs pass through
    whitespace-normalized. ``extra_cols`` must be disjoint from the
    tail's own output/internal names — a passthrough column named
    e.g. ``n_tokens`` or ``repaired`` would silently shadow or
    duplicate them (ADVICE r13)."""
    _reserved = {
        id_col, "_tk", "_spans", "_kept",
        "n_tokens", "kept_tokens", "removed_tokens", "repaired",
    }
    bad = _reserved.intersection(extra_cols)
    if bad:
        raise ValueError(
            f"excise_from_dup extra_cols collide with reserved "
            f"output/internal column names: {sorted(bad)}"
        )
    L = int(min_len)
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + L, 1).otherwise(0)
    islands = dup.select(id_col, "pos", brk.alias("_brk")).select(
        id_col,
        "pos",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_isl"),
    )
    spans = islands.groupBy(id_col, "_isl").agg(
        F.min("pos").cast("int").alias("s"),
        (F.max("pos") + L - 1).cast("int").alias("e"),
    )
    spans_arr = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_spans")
    )
    toked = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        tokens(text_col).alias("_tk"),
    )
    empty = F.array_repeat(
        F.struct(F.lit(0).alias("s"), F.lit(0).alias("e")), 0
    )
    sp = F.coalesce(F.col("_spans"), empty)
    idx = F.transform("_tk", lambda t, i: F.struct(t.alias("t"), i.alias("p")))
    kept = F.filter(
        idx,
        lambda st: ~F.exists(
            sp, lambda q: (st["p"] >= q["s"]) & (st["p"] <= q["e"])
        ),
    )
    return (
        toked.join(spans_arr, id_col, "left")
        .withColumn("_kept", kept)
        .select(
            id_col,
            *extra_cols,
            F.size("_tk").cast("long").alias("n_tokens"),
            F.size("_kept").cast("long").alias("kept_tokens"),
            (F.size("_tk") - F.size("_kept")).cast("long").alias(
                "removed_tokens"
            ),
            F.array_join(
                F.transform("_kept", lambda st: st["t"]), " "
            ).alias("repaired"),
        )
    )


def substring_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """The window-extraction head of substring dedup, shared with the
    streaming twin: (id, n_tokens, pos, gram) rows for every
    overlapping ``min_len``-token window."""
    L = int(min_len)
    toked = docs.select(
        F.col(id_col), tokens(text_col).alias("_tk")
    ).filter(F.size("_tk") >= L)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_tk") - L),
        lambda i: F.array_join(F.slice(F.col("_tk"), i + 1, L), " "),
    )
    return toked.select(
        F.col(id_col),
        F.size("_tk").alias("n_tokens"),
        F.posexplode(grams).alias("pos", "gram"),
    )


# Symbol wrappers for the BPE trainer: each symbol is stored as
# SOH||sym||STX inside a word string, so "merge pair (l, r)" is a
# LITERAL string replace of SOH l STX SOH r STX with SOH lr STX —
# replace() scans left-to-right non-overlapping in both Spark and
# DuckDB, which is exactly BPE's greedy within-word merge order, and
# the wrappers make cross-symbol-boundary matches impossible — as
# long as tokens don't themselves contain SOH/STX (control chars
# 0x01/0x02; real tokenizer preprocessing strips control chars, and
# both engines wrap identically so oracle parity holds regardless).
_BPE_SOH = "\x01"
_BPE_STX = "\x02"


def _bpe_wrap(word: Column) -> Column:
    return F.concat_ws(
        "",
        F.transform(
            F.split(word, ""),
            lambda c: F.concat(F.lit(_BPE_SOH), c, F.lit(_BPE_STX)),
        ),
    )


def _bpe_symbols(s: Column) -> Column:
    inner = F.substring(s, 2, F.length(s) - 2)
    return F.split(inner, _BPE_STX + _BPE_SOH)


def _bpe_loop(
    docs: DataFrame, n_merges: int, text_col: str
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Shared trainer loop: returns (final wrapped-symbol vocab with
    counts, merge list). bpe_train exposes the merges;
    bpe_segment_census exposes the encoded corpus the merges imply."""
    words = docs.select(F.explode(tokens(text_col)).alias("_w"))
    vocab = (
        words.groupBy("_w")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(_bpe_wrap(F.col("_w")).alias("s"), "cnt")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, int(n_merges) + 1):
        pairs = (
            vocab.select("cnt", _bpe_symbols(F.col("s")).alias("_syms"))
            # guard BEFORE sequence(): a 1-symbol word would make
            # sequence(1, 0) count DOWN and emit phantom pairs
            .filter(F.size("_syms") >= 2)
            .select(
                F.col("cnt"),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("_syms") - 1),
                        lambda i: F.struct(
                            F.element_at("_syms", i).alias("l"),
                            F.element_at("_syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("_p"),
            )
        )
        top = (
            pairs.groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged — nothing left to pair
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((step, l, r, l + r, n))
        vocab = vocab.select(
            F.replace(
                F.col("s"),
                F.lit(_BPE_SOH + l + _BPE_STX + _BPE_SOH + r + _BPE_STX),
                F.lit(_BPE_SOH + l + r + _BPE_STX),
            ).alias("s"),
            "cnt",
        )
    return vocab, merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """BPE tokenizer training, end-to-end (Sennrich et al. 2016): N
    iterated merges over the corpus, returning the merge table
    (step, left_sym, right_sym, merged, pair_count) — the iterated
    trainer completing q150's single merge-candidate census.

    The Sennrich trick makes this scale: after ONE corpus pass
    (word → count), every iteration runs over the DISTINCT-WORD vocab
    weighted by counts — bounded by vocabulary size, not corpus size,
    so 100 TB of text trains at the same per-iteration cost as 100 GB
    once the word census is done. Per iteration: one pair-explode +
    keyed sum over the vocab (map-side combine applies), a driver
    collect of exactly ONE row (the argmax pair — the q178
    driver-loop idiom), and one projection applying the merge via
    literal replace(). Ties break (count desc, left asc, right asc) —
    deterministic, so the oracle can unroll the identical N
    iterations in SQL and match bit-for-bit.

    Pair counts follow the classic trainer: every adjacent occurrence
    counts, including repeats within one word ("aaaa" counts (a,a)
    three times before the first merge).
    """
    spark = docs.sparkSession
    _, merges = _bpe_loop(docs, int(n_merges), text_col)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


def _bpe_ids(
    docs: DataFrame, n_merges: int, text_col: str
) -> tuple[DataFrame, dict[str, int], int]:
    """Shared vocab/ID head of the tokenizer deliverable: run the
    trainer, then assign DETERMINISTIC token ids GPT-2 style — base
    characters first (sorted, ids 0..B-1), then merged symbols in
    merge-step order (first step wins if two merge paths ever mint
    the same string — length-2+ strings, so no base collision).
    Returns (final wrapped-symbol vocab, symbol→id dict, base count).

    Both collects are the sanctioned bounded class: the charset
    (alphabet-sized) and the merge table (``n_merges`` rows, already
    driver-side from the trainer's argmax loop). The corpus is still
    touched exactly once (the trainer's word census)."""
    vocab, merges = _bpe_loop(docs, int(n_merges), text_col)
    vocab = vocab.localCheckpoint(eager=True)  # reused: chars + encode
    word = F.array_join(_bpe_symbols(F.col("s")), "")
    chars = sorted(
        r.c
        for r in vocab.select(F.explode(F.split(word, "")).alias("c"))
        .filter(F.col("c") != "")
        .distinct()
        .collect()
    )
    sym2id = {c: i for i, c in enumerate(chars)}
    first_step: dict[str, int] = {}
    for step, _l, _r, merged, _n in merges:
        if merged not in first_step:
            first_step[merged] = step
    for merged, _step in sorted(first_step.items(), key=lambda kv: kv[1]):
        sym2id[merged] = len(sym2id)
    return vocab, sym2id, len(chars)


def bpe_vocab_export(
    docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """The exported tokenizer vocabulary — (token_id, symbol, kind)
    with the deterministic id scheme of ``_bpe_ids``: what a training
    pipeline ships alongside the encoded shards so decode is possible
    without the trainer. ``kind`` = 'base' for single characters,
    'merged' for trained merges (all retained, GPT-2 style, even if a
    later merge absorbs every occurrence)."""
    spark = docs.sparkSession
    _vocab, sym2id, n_base = _bpe_ids(docs, n_merges, text_col)
    rows = [
        (tid, sym, "base" if tid < n_base else "merged")
        for sym, tid in sym2id.items()
    ]
    return spark.createDataFrame(
        sorted(rows), "token_id int, symbol string, kind string"
    )


def bpe_doc_ids(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Documents encoded to token-ID sequences (``array<int>``) — the
    tokenizer's end product, ready for sequence packing. Per DISTINCT
    word the final trainer vocab already holds the segmentation (the
    merges were applied to it in training order), so encode is: map
    each word's symbols through the bounded symbol→id literal map
    (one vocab-sized projection, no corpus re-segmentation), join the
    corpus's (doc, pos, word) explode against that word→ids table,
    and reassemble per doc in position order.

    The word→ids build side is corpus-derived (grows with the
    vocabulary) — pinned off the broadcast path (q226 AQE lesson).
    The per-doc ``collect_list`` is bounded by doc length, the same
    bound every per-doc array op here already carries."""
    vocab, sym2id, _ = _bpe_ids(docs, n_merges, text_col)
    mp = F.create_map(
        *[x for kv in sym2id.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    syms = _bpe_symbols(F.col("s"))
    word_ids = vocab.select(
        F.array_join(syms, "").alias("_w"),
        F.transform(
            syms, lambda x: F.element_at(mp, x).cast("int")
        ).alias("_ids"),
    )
    toks = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(tokens(text_col)).alias("_p", "_w"),
    )
    j = toks.join(word_ids.hint("shuffle_hash"), "_w")
    return j.groupBy(id_col, *extra_cols).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_ids"))),
                lambda x: x["_ids"],
            )
        ).alias("ids")
    )


def bpe_encode_pack(
    docs: DataFrame,
    n_merges: int = 8,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train → vocab → token-ID encode → sequence packing, composed:
    the full pipeline a tokenizer sharder runs (q94's deterministic
    streaming packer, now consuming REAL token ids instead of
    whitespace token counts). Per language, docs stream in id order
    into contiguous ``seq_len``-id bins (a doc's bin is the bin of
    its starting offset); per bin: doc count, total ids, and the sum
    of all id values — the checksum that forces any oracle to agree
    on every encoded id, not just lengths."""
    per_doc = bpe_doc_ids(docs, n_merges, text_col, id_col, ("lang",))
    n_ids = F.size("ids").cast("long")
    cksum = F.aggregate(
        "ids", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = per_doc.select(
        "lang",
        n_ids.alias("_n"),
        cksum.alias("_ck"),
        F.floor((F.sum(n_ids).over(w) - n_ids) / F.lit(seq_len)).alias(
            "bin_id"
        ),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("_n").cast("long").alias("bin_ids"),
        F.sum("_ck").cast("long").alias("ids_checksum"),
    )


def bpe_segment_census(
    docs: DataFrame,
    n_merges: int = 8,
    topk: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The ENCODE side of the trainer: segment the corpus with the N
    trained merges and report the top-``topk`` resulting symbols by
    corpus-weighted occurrence count — train → apply in one operator
    (the tokenizer's actual deliverable; bpe_train's merge table is
    its recipe). Multi-char symbols in this census are exactly the
    merges paying for themselves on the corpus they were trained on.

    Cost over bpe_train: one more vocab-sized explode + keyed sum —
    the corpus is still touched exactly once (the shared word
    census). Ordering (count desc, symbol asc) deterministic."""
    vocab, _ = _bpe_loop(docs, int(n_merges), text_col)
    syms = vocab.select(
        "cnt", F.explode(_bpe_symbols(F.col("s"))).alias("symbol")
    )
    census = syms.groupBy("symbol").agg(
        F.sum("cnt").cast("long").alias("n_occurrences")
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("symbol"))
    return (
        census.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "rank",
            "symbol",
            "n_occurrences",
            F.length("symbol").cast("int").alias("sym_len"),
        )
    )
