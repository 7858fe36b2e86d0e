"""Versioned snapshot tables: time travel + version diff over plain
parquet — the lakehouse capability (Delta/Iceberg-style ``VERSION AS
OF``) re-expressed with nothing but immutable parquet directories and
a JSON manifest, since this environment ships no table-format
package.

Layout::

    <table>/
      _log/v-00000000.json    append-only commit log: one record per
      _log/v-00000001.json    version {"version", "n_rows", "parent",
                              "schema"}, written via temp + atomic
                              rename, deleted only by vacuum or a
                              log checkpoint that folded it
      _log/ckpt-00000001.json periodic log checkpoint: all records
                              with version <= "upto" folded into one
                              file {"seq", "upto", "versions"} — the
                              Delta-style fix for O(versions) log
                              reads; readers load the newest ckpt
                              (by seq) + the tail of newer v-*.json
      v=0/  part-*.parquet    immutable full snapshot
      v=1/  part-*.parquet

Design points for 100 TB:

* Snapshots are FULL directories, written once, never mutated —
  readers need no locking, and ``read_snapshot`` is a plain pruned
  parquet scan of exactly one ``v=N`` directory (no log replay).
  Incremental-delta storage is deliberately out of scope: the MERGE
  state stores (streaming/merge.py) already cover incremental
  maintenance; snapshots exist for reproducibility pins — "train on
  the corpus exactly as it was".
* The commit log is APPEND-ONLY: one tiny JSON record per version
  under ``_log/``, each written to a temp name and renamed into place
  (rename to a fresh name — atomic on local FS and HDFS; never an
  in-place overwrite, so no reader can ever observe a truncated log).
  Data lands first, the commit record last: a crashed writer leaves
  an orphaned ``v=N`` directory but never a record pointing at
  missing data, and never a corrupted log — readers see the old
  latest until the commit record lands.
* CONCURRENT WRITERS coexist via optimistic CAS (round 7; the
  single-writer caveat is gone): a writer stages its data to a
  private ``.stage-*`` dir, then CLAIMS a version number by renaming
  a temp file to the fresh name ``_log/claim-{N}`` — Hadoop rename
  fails when the destination exists (atomic fail-if-exists on HDFS;
  check-then-rename on RawLocalFileSystem, the same residual every
  filesystem table format accepts there), so exactly one writer owns
  N. The loser re-reads the log and retries at N+1 with its staged
  data untouched. After winning the claim the writer re-checks log
  membership (a commit CAN land and be folded into a checkpoint
  between the loser's log read and its claim — the claim file is
  fresh again after fold cleanup, but the membership check is
  authoritative), only then swaps ``v=N`` into place and publishes
  the record. A claim without a record is a crashed writer: broken
  by the next writer once it is older than ``claim_grace_ms`` (the
  claim-to-record window is a handful of metadata ops, so the
  default 300 s grace is ~3 orders of magnitude of slack); a fresh
  one is a LIVE mid-commit writer and raises a retryable conflict.
  Each claim carries its owner's unique token, re-verified by the
  holder immediately before every destructive phase-2 step — a
  writer stalled past the grace (GC pause, NFS hang) whose claim was
  broken detects the break and aborts instead of deleting the
  breaker's committed data.
* Log checkpoints and vacuum publish ``ckpt-{seq}`` via the same
  fresh-name rename CAS — a concurrent fold (writer auto-fold vs
  vacuum vs explicit checkpoint_log) loses the rename, re-reads the
  log, and retries at seq+1; cleanup only ever removes records its
  OWN published checkpoint folded, so no interleaving can drop a
  committed record from the log.
* ``diff_versions`` is one full-outer join on the key — linear, one
  shuffle, and only over the two compared snapshots.

A deterministic md5 row-fingerprint utility is exposed so diffs can
classify changed-vs-unchanged without comparing every column pair
at the call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataflink_spark.sources.formats import hadoop_fs as _fs
from bigdataflink_spark.sources.formats import publish_json
from bigdataflink_spark.sources.formats import read_json as _read_json

LOG_DIR = "_log"


# write_snapshot folds the tail into a fresh checkpoint once it grows
# past this many records — keeps every log read at one listing + one
# checkpoint open + a bounded handful of tail opens, instead of the
# O(committed-versions) per-record open walk a long-lived table would
# otherwise pay on every read_snapshot/list_versions/vacuum call.
AUTO_CHECKPOINT_TAIL = 16


def _log_state(spark: SparkSession, table: str) -> dict:
    """One listing of ``_log/`` resolved into the committed view:
    {"versions": merged records oldest-first, "ckpt_seq": newest
    checkpoint's seq (-1 if none), "upto": highest version the
    checkpoint folded (-1 if none), "n_tail": count of live v-*.json
    tail records ABOVE the checkpoint}.

    Tail records with version <= the checkpoint's ``upto`` are
    duplicates left by a crash between checkpoint publish and tail
    cleanup — ignored here (the checkpoint is authoritative for its
    range; vacuum may have dropped expired versions from it), swept
    by the next checkpoint.

    Concurrent-reader safety: list-then-open is not atomic against a
    maintainer (checkpoint_log / vacuum) deleting a just-folded tail
    record or superseded checkpoint between our listing and our open.
    Any missing-file error therefore means the log advanced mid-read
    — the fix is simply to re-list (the NEW checkpoint covers every
    record the fold deleted), bounded to a handful of attempts so a
    genuinely corrupt log still surfaces."""
    fs, log_root, jvm = _fs(spark, f"{table}/{LOG_DIR}")
    last_err: Exception | None = None
    for _attempt in range(5):
        try:
            if not fs.exists(log_root):
                return {"versions": [], "ckpt_seq": -1, "upto": -1, "n_tail": 0}
            ckpt_path, ckpt_seq = None, -1
            tails = []
            for st in fs.listStatus(log_root):
                name = st.getPath().getName()
                if name.startswith("ckpt-") and name.endswith(".json"):
                    seq = int(name[5:-5])
                    if seq > ckpt_seq:
                        ckpt_seq, ckpt_path = seq, st.getPath()
                elif name.startswith("v-") and name.endswith(".json"):
                    tails.append((int(name[2:-5]), st.getPath()))
            records, upto = [], -1
            if ckpt_path is not None:
                ckpt = _read_json(fs, ckpt_path)
                records = list(ckpt["versions"])
                upto = ckpt["upto"]
            n_tail = 0
            for version, path in sorted(tails):
                if version <= upto:
                    continue  # superseded duplicate (see docstring)
                records.append(_read_json(fs, path))
                n_tail += 1
            records.sort(key=lambda r: r["version"])
            return {
                "versions": records,
                "ckpt_seq": ckpt_seq,
                "upto": upto,
                "n_tail": n_tail,
            }
        except Exception as exc:  # py4j surfaces java.io.FileNotFoundException
            if "FileNotFoundException" not in str(exc):
                raise
            last_err = exc
    raise IOError(
        f"snapshot log for {table} kept vanishing under the reader "
        "(5 re-list attempts) — corrupt log or runaway maintainer"
    ) from last_err


def _read_manifest(spark: SparkSession, table: str) -> dict:
    """Compose the commit log: newest checkpoint + the tail of
    append-only ``_log/v-*.json`` records (oldest first)."""
    return {"versions": _log_state(spark, table)["versions"]}


def _publish_checkpoint(
    spark: SparkSession, table: str, new_seq: int, upto: int, versions: list
) -> bool:
    """Write ``ckpt-{new_seq}`` via temp + fresh-name rename. False
    means the seq was taken by a concurrent fold (CAS lost) — the
    caller re-reads the log and retries at the next seq; the loser's
    temp is removed."""
    fs, _, jvm = _fs(spark, f"{table}/{LOG_DIR}")
    return publish_json(
        fs, jvm,
        f"{table}/{LOG_DIR}/.ckpt-{new_seq:08d}.json.tmp",
        f"{table}/{LOG_DIR}/ckpt-{new_seq:08d}.json",
        {"seq": new_seq, "upto": upto, "versions": versions},
    )


def checkpoint_log(spark: SparkSession, table: str) -> int | None:
    """Fold every committed record into a fresh ``ckpt-{seq+1}.json``
    (temp + atomic rename, like every commit here), then clean up the
    folded tail records and superseded checkpoints. Returns the new
    checkpoint seq, or None when there is nothing to fold.

    Crash-safe at every point: the new checkpoint is the ONLY step
    readers depend on — a crash before the rename leaves the old
    state; a crash after it leaves duplicate tail records / an old
    checkpoint, both ignored by ``_log_state`` and swept by the next
    checkpoint. Concurrent folds (another checkpoint_log, a writer's
    auto-fold, a vacuum) are arbitrated by the fresh-seq rename CAS:
    the loser re-reads and retries at the next seq, and cleanup only
    removes what its OWN checkpoint folded."""
    fs, log_root, jvm = _fs(spark, f"{table}/{LOG_DIR}")
    for _attempt in range(5):
        state = _log_state(spark, table)
        if not state["versions"]:
            return None
        new_seq = state["ckpt_seq"] + 1
        upto = state["versions"][-1]["version"]
        if not _publish_checkpoint(
            spark, table, new_seq, upto, state["versions"]
        ):
            continue  # lost the seq race — fold the NEW state instead
        # cleanup (best-effort, idempotent): folded tail + older ckpts
        for st in fs.listStatus(log_root):
            name = st.getPath().getName()
            if name.startswith("v-") and name.endswith(".json"):
                if int(name[2:-5]) <= upto:
                    fs.delete(st.getPath(), False)
            elif name.startswith("ckpt-") and name.endswith(".json"):
                if int(name[5:-5]) < new_seq:
                    fs.delete(st.getPath(), False)
        return new_seq
    raise IOError(
        f"checkpoint_log for {table} lost the seq race 5 times — "
        "runaway concurrent maintainer"
    )


def _append_commit_record(spark: SparkSession, table: str, record: dict) -> None:
    """Publish one version's commit record: write to a temp name, then
    a single atomic rename to the (fresh, never-overwritten) final
    name. A crash before the rename leaves only an invisible temp; a
    reader can never observe a partial or truncated record."""
    version = record["version"]
    fs, log_root, jvm = _fs(spark, f"{table}/{LOG_DIR}")
    fs.mkdirs(log_root)
    final = f"{table}/{LOG_DIR}/v-{version:08d}.json"
    if not publish_json(
        fs, jvm, f"{table}/{LOG_DIR}/.v-{version:08d}.json.tmp", final, record
    ):
        raise IOError(f"snapshot commit rename failed for {final}")


def list_versions(spark: SparkSession, table: str) -> list[dict]:
    """Commit log, oldest first: version, n_rows, parent, schema."""
    return _read_manifest(spark, table)["versions"]


class SnapshotConflict(Exception):
    """A concurrent writer is mid-commit on the contended version and
    its claim is fresher than ``claim_grace_ms`` — retry the write."""


class _ClaimBroken(SnapshotConflict):
    """This writer's claim was broken (post-grace) by a concurrent
    writer while it was stalled mid-commit. ``stage_consumed`` tells
    the caller whether the staged data was already renamed away (in
    which case the whole write must be retried from staging)."""

    def __init__(self, msg: str, stage_consumed: bool):
        super().__init__(msg)
        self.stage_consumed = stage_consumed


def _claim_path(table: str, version: int) -> str:
    return f"{table}/{LOG_DIR}/claim-{version:08d}"


def _try_claim(
    spark: SparkSession, table: str, version: int, token: str = ""
) -> bool:
    """CAS a version claim: rename a temp file to the fresh name
    ``_log/claim-{N}``; exactly one contender wins. The claim file
    carries the owner's unique ``token`` so a stalled writer whose
    claim was broken (and possibly re-claimed) can DETECT the break
    before doing anything destructive — without it, writer A stalling
    past the grace between its membership check and its data swap
    would delete writer B's committed ``v=N`` as an "orphan"."""
    import uuid as _uuid

    fs, log_root, jvm = _fs(spark, f"{table}/{LOG_DIR}")
    fs.mkdirs(log_root)
    return publish_json(
        fs, jvm,
        f"{table}/{LOG_DIR}/.claim-{version:08d}.{_uuid.uuid4().hex}.tmp",
        _claim_path(table, version),
        {"token": token},
    )


def _claim_token(spark: SparkSession, table: str, version: int) -> str | None:
    """The token inside the live claim file, or None when no claim
    exists (broken / released / never taken)."""
    fs, _, jvm = _fs(spark, table)
    path = jvm.org.apache.hadoop.fs.Path(_claim_path(table, version))
    try:
        return _read_json(fs, path).get("token", "")
    except Exception as exc:
        if "FileNotFoundException" in str(exc):
            return None
        raise


def _verify_claim_owner(
    spark: SparkSession,
    table: str,
    version: int,
    token: str,
    stage_consumed: bool,
) -> None:
    """Raise :class:`_ClaimBroken` unless the claim on ``version`` is
    still THIS writer's (same token). Called immediately before each
    destructive step of phase 2 — the ownership re-check that closes
    the stalled-writer race (a writer pausing past ``claim_grace_ms``
    mid-commit has its claim broken; without this check it would
    resume and destroy the breaker's committed data)."""
    current = _claim_token(spark, table, version)
    if current != token:
        raise _ClaimBroken(
            f"claim on version {version} of {table} was broken by a "
            "concurrent writer while this writer was stalled "
            f"(claim token now {current!r}) — the write must be retried",
            stage_consumed,
        )


def _commit_claimed_version(
    spark: SparkSession,
    df_schema_json: dict,
    table: str,
    stage: str,
    version: int,
    n_rows: int,
    token: str = "",
) -> bool:
    """Phase 2 of a write, entered HOLDING the claim on ``version``
    (with owner ``token`` inside it): re-verify log membership (a
    commit can land AND be folded into a checkpoint — deleting its
    tail record and claim — between a loser's log read and its
    successful re-claim of the freed name; the membership check is
    authoritative where file existence is not), re-verify claim
    OWNERSHIP immediately before every destructive step (a writer
    stalled past the grace has its claim broken by the next writer —
    resuming blind here would delete the breaker's committed data),
    reclaim any crashed-writer orphan dir, swap the staged data in,
    publish the record, release the claim. Returns False (claim
    released, stage untouched) when the version turned out committed;
    raises :class:`_ClaimBroken` when ownership was lost. Exposed as
    a private phase so kill-point tests can drive each step."""
    fs, _, jvm = _fs(spark, table)
    # belt and braces: the record FILE (beats a stale manifest read)
    # and log membership (beats a folded record whose tail is gone)
    committed = fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{table}/{LOG_DIR}/v-{version:08d}.json")
    ) or any(
        v["version"] == version
        for v in _read_manifest(spark, table)["versions"]
    )
    if committed:
        # release only OUR claim — a breaker may already own the name
        if _claim_token(spark, table, version) == token:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(_claim_path(table, version)),
                False,
            )
        return False
    # ownership re-check, as close to the destructive swap as the FS
    # allows: if our claim was broken while we stalled in the checks
    # above, the version may be the BREAKER's committed data — abort
    # with stage untouched rather than delete it as an "orphan"
    _verify_claim_owner(spark, table, version, token, stage_consumed=False)
    final = jvm.org.apache.hadoop.fs.Path(f"{table}/v={version}")
    if fs.exists(final):
        # uncommitted orphan from a crashed claimant — we hold the
        # claim (ownership just verified) and the version is not
        # committed, so reclaim is safe
        fs.delete(final, True)
        # post-delete ownership re-check: if our claim was broken
        # WHILE we deleted (the delete itself can stall), the breaker
        # may be mid-commit on this version — abort before the rename
        # publishes our stale stage over theirs. The delete of what
        # was, at check time, an uncommitted orphan is not
        # recoverable here, but aborting stops the damage at one
        # orphan dir instead of a phantom published version.
        _verify_claim_owner(spark, table, version, token, stage_consumed=False)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(stage), final):
        raise IOError(f"snapshot data rename failed for {final}")
    # second ownership re-check before the record publish: a stall
    # BETWEEN swap and record equally invites a break — publishing
    # blind would attach our metadata to whatever data the breaker
    # swaps in next. Our stage is consumed (renamed); the breaker
    # reclaims the record-less dir, so the caller must re-stage.
    _verify_claim_owner(spark, table, version, token, stage_consumed=True)
    _append_commit_record(
        spark,
        table,
        {
            "version": version,
            "n_rows": n_rows,
            "parent": version - 1 if version else None,
            "schema": df_schema_json,
        },
    )
    fs.delete(jvm.org.apache.hadoop.fs.Path(_claim_path(table, version)), False)
    return True


def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    claim_grace_ms: int = 300_000,
    max_attempts: int = 20,
) -> int:
    """Commit ``df`` as the table's next version; returns the version
    number. Data lands under ``v=N/`` first, the manifest commit
    record last (see module doc for the crash story).

    Concurrent-writer safe (optimistic CAS): the data is staged ONCE
    to a private dir (the slow part), then the writer claims a
    version number via the fresh-name rename CAS — carrying a unique
    owner token — and retries at the next number if it loses; two
    writers serialize on claims, never on data rewrites. A claim with
    no commit record is a live mid-commit writer if fresher than
    ``claim_grace_ms`` (raises :class:`SnapshotConflict` — retryable)
    and a crashed writer's leftover otherwise (broken, version
    retried). The 300 s default grace is sized so only a genuinely
    dead writer is ever broken (the claim-to-record window is a
    handful of metadata ops); a writer that DOES stall past it
    detects the break via token re-checks before and between the
    destructive steps, aborting with :class:`SnapshotConflict`. On a
    plain rename-CAS filesystem the re-checks narrow the race to the
    window between the ownership check and the following operation —
    they cannot close it entirely, but a break landing inside that
    residual window costs at most one orphaned data dir (swept by the
    next writer), never a silently wrong published version."""
    import time
    import uuid as _uuid

    fs, _, jvm = _fs(spark, table)
    stage = f"{table}/.stage-{_uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(stage)
    n_rows = spark.read.parquet(stage).count()
    schema_json = df.schema.jsonValue()
    token = _uuid.uuid4().hex
    try:
        for _attempt in range(max_attempts):
            manifest = _read_manifest(spark, table)
            version = (
                manifest["versions"][-1]["version"] + 1
                if manifest["versions"]
                else 0
            )
            if _try_claim(spark, table, version, token):
                try:
                    if _commit_claimed_version(
                        spark, schema_json, table, stage, version,
                        n_rows, token,
                    ):
                        stage = None  # consumed by the data rename
                        break
                except _ClaimBroken as exc:
                    if exc.stage_consumed:
                        # data already renamed away (the breaker
                        # reclaims the record-less dir) — the caller
                        # must retry from staging
                        stage = None
                        raise
                    continue  # stage intact: retry at next version
                continue  # committed-and-folded race: next version
            # claim taken: by a committed version whose claim wasn't
            # cleaned (inert), a live mid-commit writer, or a crashed
            # one — the record and the claim's age decide which
            claim = jvm.org.apache.hadoop.fs.Path(_claim_path(table, version))
            rec = jvm.org.apache.hadoop.fs.Path(
                f"{table}/{LOG_DIR}/v-{version:08d}.json"
            )
            if fs.exists(rec):
                fs.delete(claim, False)  # inert leftover
                continue
            try:
                age_ms = int(time.time() * 1000) - fs.getFileStatus(
                    claim
                ).getModificationTime()
            except Exception:  # claim vanished: holder just finished
                continue
            if age_ms > claim_grace_ms:
                fs.delete(claim, False)  # crashed mid-commit: break it
                continue
            raise SnapshotConflict(
                f"version {version} of {table} is being committed by a "
                f"concurrent writer (claim age {age_ms} ms) — retry"
            )
        else:
            raise IOError(
                f"write_snapshot lost {max_attempts} version claims on "
                f"{table} — runaway contention"
            )
    finally:
        if stage is not None:
            fs.delete(jvm.org.apache.hadoop.fs.Path(stage), True)
    # fold the tail once it outgrows the threshold — amortized O(1)
    # per commit, and every later log read is checkpoint + short tail.
    # Best-effort: the version COMMIT above is already durable, so a
    # failed fold must not surface as a failed write — the next
    # commit or maintenance run retries the fold.
    try:
        if _log_state(spark, table)["n_tail"] >= AUTO_CHECKPOINT_TAIL:
            checkpoint_log(spark, table)
    except IOError:
        pass
    return version


def read_snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """``VERSION AS OF``: the table exactly as committed at
    ``version`` (default: latest). A plain parquet scan of one
    immutable directory — filters and column pruning push down like
    any parquet read."""
    versions = list_versions(spark, table)
    if not versions:
        raise ValueError(f"snapshot table {table} has no committed versions")
    known = [v["version"] for v in versions]
    if version is None:
        version = known[-1]
    if version not in known:
        raise ValueError(
            f"version {version} not in {table}'s commit log {known}"
        )
    return spark.read.parquet(f"{table}/v={version}")


def row_fingerprint(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key…, _fp): md5 fingerprint of every NON-key column in name
    order (NULL-safe: each value is tagged present/absent before
    concat, so NULL ≠ '' ≠ absent). Deterministic across engines and
    partitionings."""
    value_cols = sorted(c for c in df.columns if c not in key_cols)
    tagged = [
        F.when(
            F.col(c).isNull(), F.lit("\x00null")
        ).otherwise(F.concat(F.lit("\x01"), F.col(c).cast("string")))
        for c in value_cols
    ]
    return df.select(
        *key_cols, F.md5(F.concat_ws("\x02", *tagged)).alias("_fp")
    )


def diff_versions(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level change set between two committed versions:
    (key…, change) with change ∈ inserted | deleted | updated.
    Unchanged rows (equal fingerprints) are omitted. One full-outer
    join on the key over the two snapshots — linear, one shuffle."""
    old = row_fingerprint(
        read_snapshot(spark, table, from_version), key_cols
    ).withColumnRenamed("_fp", "_fp_old")
    new = row_fingerprint(
        read_snapshot(spark, table, to_version), key_cols
    ).withColumnRenamed("_fp", "_fp_new")
    joined = old.join(new, key_cols, "full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("_fp_old").isNull(), F.lit("inserted"))
            .when(F.col("_fp_new").isNull(), F.lit("deleted"))
            .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("updated"))
            .otherwise(F.lit("unchanged")),
        )
        .filter(F.col("change") != "unchanged")
        .select(*key_cols, "change")
    )


def vacuum_snapshots(
    spark: SparkSession,
    table: str,
    keep_last: int,
    orphan_grace_ms: int = 3_600_000,
) -> dict:
    """Retention (the Delta VACUUM / Iceberg expire-snapshots analog):
    keep the newest ``keep_last`` committed versions, expire the rest.
    Returns {"expired": [...], "kept": [...]}.

    Crash-safe ordering, mirroring the write path in reverse: a
    version's COMMIT RECORD is deleted first — one atomic FS delete
    makes it vanish from the log, so readers can never resolve a
    version whose data is mid-delete — and its data directory after.
    A crash in between leaves an orphaned ``v=N`` dir that the next
    vacuum sweeps (any data dir with no commit record and a version
    below the oldest kept one). ``read_snapshot`` of an expired
    version fails the commit-log membership check with the same clear
    error as a never-committed version.

    Safe BESIDE live writers (round 7): writers only create versions
    above everything committed, vacuum only touches expired ones, and
    checkpoint publication goes through the fresh-seq rename CAS — a
    concurrent fold (a writer's auto-checkpoint) loses or wins the
    seq atomically and the loser retries against the new state.
    Concurrent readers never RESOLVE an expired
    version after the log shrinks, but a reader that planned a
    DataFrame against an expiring version BEFORE vacuum ran may still
    scan lazily afterwards — the same in-flight exposure Delta VACUUM
    has at retention 0. The retention contract is therefore
    ``keep_last``: size it to cover the longest-lived reader pin
    (e.g. keep_last >= versions committed during one training run),
    exactly as Delta's retention-hours is sized to query duration.
    ``orphan_grace_ms`` bounds the stale-leftover sweep (crashed
    writers' ``.stage-*`` dirs and record-less claims): only
    leftovers older than the grace go, so a live mid-commit writer's
    files are never swept (same mtime-retention idea as Delta
    VACUUM's hours).
    """
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, root, jvm = _fs(spark, table)

    # Phase 1 — shrink the LOG first (write path in reverse: a version
    # must leave the log before its data may go). If any expired
    # version lives inside the newest checkpoint, publish a successor
    # checkpoint (same "upto", kept records only) that no longer
    # carries it — one atomic rename, after which no reader resolves
    # the expired version; older checkpoints are then superseded.
    # CAS loop: a concurrent fold can take the seq; re-read and retry.
    for _attempt in range(5):
        state = _log_state(spark, table)
        records = state["versions"]
        versions = [v["version"] for v in records]
        kept = versions[-keep_last:]
        expired = [v for v in versions if v not in kept]
        if not (
            state["ckpt_seq"] >= 0 and any(v <= state["upto"] for v in expired)
        ):
            break
        new_seq = state["ckpt_seq"] + 1
        kept_records = [r for r in records if r["version"] in kept]
        if _publish_checkpoint(
            spark,
            table,
            new_seq,
            state["upto"],
            [r for r in kept_records if r["version"] <= state["upto"]],
        ):
            for s in range(state["ckpt_seq"], -1, -1):
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{table}/{LOG_DIR}/ckpt-{s:08d}.json"
                    ),
                    False,
                )
            break
    else:
        raise IOError(
            f"vacuum for {table} lost the checkpoint seq race 5 times"
        )

    # Phase 2 — delete data ONLY for versions that provably left the
    # log: the tail record's delete result is re-verified (an FS error
    # or permission failure must NOT be followed by a data delete —
    # that would leave a committed record pointing at missing data,
    # the one invariant this module never breaks).
    removed = []
    for v in expired:
        rec = jvm.org.apache.hadoop.fs.Path(
            f"{table}/{LOG_DIR}/v-{v:08d}.json"
        )
        fs.delete(rec, False)
        if fs.exists(rec):
            continue  # record still committed — data stays; retry later
        removed.append(v)
    for v in removed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table}/v={v}"), True)
    expired = removed  # a version whose record survived is NOT expired
    # sweep orphans from crashed prior vacuums: data dirs with no
    # commit-log membership below the oldest kept version
    oldest_kept = kept[0] if kept else -1
    now_ms = int(time.time() * 1000)
    if fs.exists(root):
        live = set(versions)
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(".stage-"):
                # crashed writer's staging leftovers — mtime-graced so
                # a live mid-commit writer's stage is never swept
                if now_ms - st.getModificationTime() > orphan_grace_ms:
                    fs.delete(st.getPath(), True)
                continue
            if not name.startswith("v="):
                continue
            v = int(name.split("=", 1)[1])
            if v < oldest_kept and v not in live:
                rec = jvm.org.apache.hadoop.fs.Path(
                    f"{table}/{LOG_DIR}/v-{v:08d}.json"
                )
                if not fs.exists(rec):
                    fs.delete(st.getPath(), True)
    # stale claims: record exists (inert leftover) -> sweep now;
    # record-less and past the grace (crashed mid-commit) -> sweep
    log_root = jvm.org.apache.hadoop.fs.Path(f"{table}/{LOG_DIR}")
    if fs.exists(log_root):
        for st in fs.listStatus(log_root):
            name = st.getPath().getName()
            if not name.startswith("claim-"):
                continue
            v = int(name[6:])
            rec = jvm.org.apache.hadoop.fs.Path(
                f"{table}/{LOG_DIR}/v-{v:08d}.json"
            )
            if fs.exists(rec) or v in set(versions):
                fs.delete(st.getPath(), False)
            elif now_ms - st.getModificationTime() > orphan_grace_ms:
                fs.delete(st.getPath(), False)
    return {"expired": expired, "kept": kept}
