"""Streaming exact-substring dedup — the streaming twin of
``operators.text.substring_span_stats`` (round 11: the substring
family member joined the dedup suite in q226; every other member —
exact/LWW, MinHash near-dup, SemDeDup, Bloom seen-set — already
carries a streaming twin, and now the span detector does too).

Semantics (at-arrival, the q215 discipline): each micro-batch's docs
are judged against the PREFIX — a window is DUPLICATED iff its gram
was seen in any EARLIER batch, or occurs >= 2 times within this
batch. Duplicated window starts merge into maximal spans exactly as
in the batch operator. Like q215's Bloom verdicts, a doc is judged
once, when it arrives; a gram's FIRST occurrence is never
retro-flagged when a later duplicate appears (a stream cannot emit
into the past — the standard crawl-dedup contract).

State is one append-only parquet dir of DISTINCT 60-bit md5 gram
hashes (``<state>/grams``): linear in distinct grams seen — the
honest cost of EXACT substring dedup (the sketch twins bound state
because they answer approximate questions; exact span detection
cannot). Appends are anti-joined, so replayed batches are idempotent
and the directory holds each hash once. Verdict joins key on the
hash, so state rows are 8 bytes, ~10x smaller than gram text; the
oracle hashes the same way (md5 is cross-engine), so parity is exact
BY CONSTRUCTION even when hashes collide — a collision flags a span
as duplicated in both engines.

Collision ceiling (round 14, VERDICT r13): the 60-bit key's birthday
bound is ~1.3·10⁹ distinct grams — comfortably above any streaming
prefix this repo benches, but CROSSED at the 100 TB batch target
(~10¹¹–10¹² distinct windows), where thousands of silent gram merges
become expected; each one over-flags a first occurrence as seen
(conservative for dedup — text is dropped, never duplicated — but
still wrong rows). The 60-bit width is part of the DECLARED state
contract on both engines (the oracle replays it bit-for-bit), so it
is documented here rather than widened; past ~10⁸ distinct grams,
deploy with a rewritten state contract (e.g. the batch family's
two-seeded-xxhash64 128-bit key, operators/text.py::
_dup_window_starts) and a matching oracle. The batch operators this
module twins were widened to 128 bits in round 14.

Stream-over-one-batch == the batch operator row-for-row (within one
batch, "seen earlier or twice here" degenerates to "count >= 2"),
which the parity test pins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.operators.hashing import md5_int
from bigdataflink_spark.operators.text import (
    merge_duplicated_spans,
    substring_windows,
)
from bigdataflink_spark.sources.formats import compact_dir, hadoop_fs
from bigdataflink_spark.streaming.statestore import read_state, start_foreach_batch

SALT = "ssd-v1"


def maintain_gram_state(
    spark: SparkSession,
    state_dir: str,
    max_files: int = 64,
    target_rows_per_file: int = 4_000_000,
) -> "tuple[int, int] | None":
    """Periodic maintenance for the gram seen-set: once the
    append-per-trigger layout exceeds ``max_files`` data files,
    rewrite ``<state>/grams`` into range-sharded gh-sorted files via
    ``compact_dir`` (temp-dir + rename swap; a crash mid-swap parks
    the state at ``.compact_old``, which both ``compact_dir`` and
    ``read_state`` repair via ``recover_compact_crash`` before
    proceeding — never a mix, never a silent empty bootstrap). Returns (files_before, files_after) when a
    compaction ran, ``None`` when below threshold.

    Why this matters at deployment trigger counts: every
    ``accept_batch`` appends one file-set, and ``read_state``'s
    call-time file-list pin ENUMERATES the directory per trigger —
    after 10^4 triggers that is 10^4 listings feeding 10^4-file
    scans. Compaction restores O(state/target) files, and gh-sorted
    shards give parquet min/max footers that also serve any future
    range-partitioned verdict join.

    SAFETY: compaction DELETES the pre-compaction files, so every
    still-lazy DataFrame holding a pinned file list over this state
    must be materialized first. ``run_substr_stream`` guarantees that
    by compacting only AFTER the batch's verdict parquet write;
    callers driving ``accept_batch`` directly must do the same.
    Replay idempotence is untouched — state content is identical
    before and after, only the file layout changes."""
    gh_dir = os.path.join(state_dir, "grams")
    fs, hpath, _ = hadoop_fs(spark, gh_dir)
    if not fs.exists(hpath):
        return None
    n = sum(
        1
        for st in fs.listStatus(hpath)
        if not st.isDirectory()
        and not st.getPath().getName().startswith("_")
        and not st.getPath().getName().startswith(".")
    )
    if n <= max_files:
        return None
    return compact_dir(spark, gh_dir, ["gh"], target_rows_per_file)


def _judge_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    id_col: str,
    text_col: str,
    min_len: int,
    salt: str,
) -> DataFrame:
    """Shared head of both streaming twins: the batch's DUPLICATED
    window starts (id, n_tokens, pos), judged at arrival against the
    prefix (gram seen in any earlier batch, or >= 2 times within this
    one), with the batch's new gram hashes folded into state
    (anti-joined append → idempotent replay)."""
    gh_dir = os.path.join(state_dir, "grams")
    win = substring_windows(batch_docs, id_col, text_col, min_len).select(
        id_col,
        "n_tokens",
        "pos",
        md5_int(F.concat(F.lit(salt), F.col("gram")), bits=60).alias("gh"),
    )
    win = win.localCheckpoint(eager=True)  # verdict + append both read it
    counts = win.groupBy("gh").agg(F.count("*").alias("_n"))
    # a read error on EXISTING state propagates loudly; only a missing
    # directory means "first batch" (the round-10 state-read rule)
    state = read_state(spark, gh_dir)
    if state is not None:
        # ONE state join per trigger (round 13): the old shape joined
        # state twice — a left_semi for "seen" verdicts plus a
        # left_anti for the new-gram append — and then paid a
        # union+distinct exchange to merge the within-batch leg. A
        # single left join with a marker serves both: the lazy
        # checkpoint materializes when the append (below) runs, and
        # the verdict leg reads the same checkpoint. State rows are
        # distinct gh, so the join cannot multiply counts rows.
        marked = counts.join(
            state.withColumn("_s", F.lit(1)), "gh", "left"
        ).localCheckpoint(eager=False)
        dup_gh = marked.filter(
            (F.col("_n") >= 2) | F.col("_s").isNotNull()
        ).select("gh")
        new_gh = marked.filter(F.col("_s").isNull()).select("gh")
    else:
        dup_gh = counts.filter(F.col("_n") >= 2).select("gh")
        new_gh = counts.select("gh")
    # dup_gh grows with the prefix — never broadcast it (the q226
    # AQE-underestimate lesson); shuffle_hash keys both sides on gh
    dup = win.join(dup_gh.hint("shuffle_hash"), "gh").select(
        id_col, "n_tokens", "pos"
    )
    new_gh.write.mode("append").parquet(gh_dir)
    return dup


def accept_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    salt: str = SALT,
) -> DataFrame:
    """One streaming step: per-doc maximal duplicated spans of this
    batch's docs judged against the prefix, then fold the batch's
    gram hashes into state. Returns the batch's span stats (docs with
    >= 1 duplicated span). Usable directly for backfills."""
    dup = _judge_batch(
        spark, batch_docs, state_dir, id_col, text_col, min_len, salt
    )
    return merge_duplicated_spans(dup, id_col, min_len)


def accept_batch_excise(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    salt: str = SALT,
) -> DataFrame:
    """The streaming REPAIRED-CORPUS twin (round 12 — q231's
    deliverable at arrival, as q230 is q226's): each batch's docs come
    back with their prefix-or-within-batch duplicated spans EXCISED
    (drop-all-repeats at arrival: a span already seen upstream is cut
    from this batch's copy; the upstream first sight stays intact —
    a stream cannot edit the past, the q215 at-arrival discipline).
    Every doc of the batch is returned (untouched docs
    whitespace-normalized, removed_tokens = 0) — the output stream IS
    the deduplicated corpus a training pipeline consumes. State and
    replay semantics are exactly accept_batch's (shared judge)."""
    from bigdataflink_spark.operators.text import excise_from_dup

    dup = _judge_batch(
        spark, batch_docs, state_dir, id_col, text_col, min_len, salt
    ).select(id_col, "pos")
    return excise_from_dup(batch_docs, dup, id_col, text_col, min_len)


def run_substr_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    salt: str = SALT,
    compact_after_files: "int | None" = 64,
) -> None:
    """Drain ``stream`` (availableNow) through the online span
    detector; per batch, span-stat rows (+ batch_id) land in
    ``out_dir`` as parquet. After each batch's verdicts are durably
    written (so no lazy plan still pins the old file layout), the
    gram state is compacted whenever its file count exceeds
    ``compact_after_files`` (None disables maintenance)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = accept_batch(
            spark, batch_df, state_dir, id_col, text_col, min_len, salt
        )
        out.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)
        if compact_after_files is not None:
            maintain_gram_state(spark, state_dir, compact_after_files)

    start_foreach_batch(stream, checkpoint_dir, _process).awaitTermination()
