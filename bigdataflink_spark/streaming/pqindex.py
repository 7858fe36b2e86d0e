"""Streaming PQ index ingest — the similarity family's streaming twin
(round 12): embeddings arrive in micro-batches, are PQ-encoded with a
codebook FROZEN from the first batch, and accrete into a code store;
after every batch a standing query set retrieves its top-k by ADC over
everything indexed so far. This is the deployment shape of a
continuously-fed vector index: the store holds ``nsub`` bytes per
vector (the PQ point — the 100 TB corpus fits in code form), the
codebook never moves after bootstrap (re-encoding history on every
codebook change would be a full-corpus rewrite), and retrieval quality
over the prefix is exactly batch PQ quality (pq_adc_shortlist over the
same codes — parity-tested).

State layout (both via the round-10/11 state rules — loud reads,
call-time file-list pinning):

* ``<state>/codebook`` — written ONCE by the bootstrap batch
  (ncent·nsub rows); replayed bootstraps reuse it, so replay is
  idempotent by construction;
* ``<state>/codes`` — (id, codes array<int>) appended per batch,
  anti-joined on id so replays append nothing. 8 bytes/vector at the
  defaults; grows linearly in VECTORS, not dimensions — the honest,
  bounded-per-row cost of an exact-membership index (the gram store of
  substrdedup.py is the same shape for text).

Scoring is at-arrival over the store AFTER the batch's append, so a
replayed batch scores against identical state and emits identical
rows — stronger than the substring twin's at-arrival caveat.

Round 13 adds the IVF-ROUTED variant (:func:`accept_batch_routed`,
q240): ``accept_batch``'s per-trigger ADC scan of the ENTIRE store was
round 12's one flagged scale-killer, so the routed index freezes IVF
centroids at bootstrap beside the codebook (``<state>/centroids``),
lands codes CELL-KEYED (``<state>/codes/label=<cell>/`` directories),
and per trigger reads only the standing queries' nprobe routed cell
dirs — listing and scan proportional to routed-cell mass, never store
size. ``accept_batch`` remains the exact-full-scan baseline (and the
nprobe=ncells degenerate case of the routed index — parity-tested).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataflink_spark.operators.similarity import (
    _pq_lut,
    _pq_subvectors,
    cosine,
    pq_adc_shortlist,
    pq_encode,
)
from bigdataflink_spark.streaming.statestore import (
    list_state_files,
    read_state,
    start_foreach_batch,
)


def pq_codebook_lowest(
    corpus: DataFrame,
    nsub: int = 8,
    dsub: int = 8,
    ncent: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codebook from the ``ncent`` LOWEST ids PRESENT in ``corpus``,
    re-indexed densely 0..ncent-1 by id rank — the bootstrap-batch
    variant of pq_codebook (whose ``id < ncent`` rule assumes a dense
    id space; a micro-batch slice has holes). Deterministic, so the
    SQL oracle rebuilds it with one ORDER BY/LIMIT + row_number."""
    lowest = corpus.orderBy(id_col).limit(ncent)
    w = Window.orderBy(id_col)
    cents = lowest.withColumn(
        "_cent", (F.row_number().over(w) - 1).cast("int")
    )
    return _pq_subvectors(cents, "_cent", vec_col, nsub, dsub, "cent").select(
        F.col("cent").cast("int").alias("cent"),
        "sub",
        F.col("sv").alias("cv"),
    )


def _collect_codebook_arr(cb: DataFrame, nsub: int, dsub: int):
    """Collect + density-check a codebook frame into the dense
    (nsub, ncent, dsub) numpy array pq_encode's Arrow stage
    broadcasts (the pq_encode checks, hoisted so frozen-codebook
    callers pay the collect ONCE at bootstrap, not per trigger)."""
    import numpy as np

    cb_rows = cb.collect()
    if not cb_rows:
        raise ValueError("pqindex bootstrap: empty codebook")
    ncent = max(r.cent for r in cb_rows) + 1
    seen = {(r.sub, r.cent) for r in cb_rows}
    missing = [
        (s, c)
        for s in range(nsub)
        for c in range(ncent)
        if (s, c) not in seen
    ]
    if missing:
        raise ValueError(
            f"pqindex bootstrap: sparse codebook — missing {missing[:5]}"
        )
    arr = np.zeros((nsub, ncent, dsub), dtype=np.float64)
    for r in cb_rows:
        arr[r.sub, r.cent, :] = r.cv
    return arr


def bootstrap_index(
    spark: SparkSession,
    batch_vecs: DataFrame,
    queries: DataFrame,
    state_dir: str,
    nsub: int = 8,
    dsub: int = 8,
    ncent: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Freeze (or reload) the codebook and precompute everything that
    is CONSTANT across triggers for the exact-scan index: the dense
    codebook array (for pq_encode) and the standing queries' ADC LUT
    (for pq_adc_shortlist). The codebook and queries never change
    after bootstrap, so per-trigger recomputation of these was pure
    fixed overhead — 2 collect jobs per trigger (round-13 bench:
    q238's cost is ~all job-count overhead at bench scale). Safe on
    replay: writes only when the codebook state is missing."""
    cb_dir = os.path.join(state_dir, "codebook")
    cb = read_state(spark, cb_dir)
    if cb is None:
        pq_codebook_lowest(
            batch_vecs, nsub, dsub, ncent, id_col, vec_col
        ).write.parquet(cb_dir)
        cb = read_state(spark, cb_dir)
    qids, lut = _pq_lut(
        cb, queries, nsub, dsub, id_col, vec_col, "bootstrap_index"
    )
    return {
        "cb": cb,
        "cb_arr": _collect_codebook_arr(cb, nsub, dsub),
        "lut": (qids, lut),
    }


def accept_batch(
    spark: SparkSession,
    batch_vecs: DataFrame,
    queries: DataFrame,
    state_dir: str,
    k: int = 3,
    nsub: int = 8,
    dsub: int = 8,
    ncent: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    frozen: "dict | None" = None,
) -> DataFrame:
    """One ingest step: freeze the codebook if this is the bootstrap
    batch, PQ-encode the batch, fold the codes into the store
    (anti-joined — idempotent), then retrieve the standing
    ``queries``' top-``k`` by ADC over EVERYTHING indexed so far.
    Returns (query_id, neighbor_id, adc, rank, n_indexed).

    ``frozen``: the :func:`bootstrap_index` dict — pass it to skip
    the per-trigger codebook collect and LUT build (both constant
    after bootstrap). ``None`` keeps the self-contained per-call
    shape."""
    codes_dir = os.path.join(state_dir, "codes")
    if frozen is None:
        frozen = bootstrap_index(
            spark, batch_vecs, queries, state_dir, nsub, dsub, ncent,
            id_col, vec_col,
        )
    cb = frozen["cb"]
    codes_new = pq_encode(
        batch_vecs, cb, nsub, dsub, id_col, vec_col,
        cb_arr=frozen["cb_arr"],
    )
    prior = read_state(spark, codes_dir)
    if prior is not None:
        codes_new = codes_new.join(prior.select("id"), "id", "left_anti")
    codes_new.write.mode("append").parquet(codes_dir)
    store = read_state(spark, codes_dir)  # post-append snapshot
    out = pq_adc_shortlist(
        store, cb, queries, k=k, nsub=nsub, dsub=dsub,
        id_col=id_col, vec_col=vec_col, lut=frozen["lut"],
    )
    n_indexed = store.agg(F.count("*").cast("long").alias("n_indexed"))
    return out.crossJoin(F.broadcast(n_indexed)).select(
        "query_id", "neighbor_id", "adc", "rank", "n_indexed"
    )

# -- IVF-routed variant (round 13, VERDICT r12 "Next round" #1) ---------------


def ivf_centroids_lowest(
    corpus: DataFrame,
    ncells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell centroids from the ``ncells`` LOWEST ids PRESENT in
    the bootstrap batch, re-indexed densely 0..ncells-1 by id rank —
    the routing twin of pq_codebook_lowest (same hole-tolerant rule,
    same one-ORDER-BY SQL replay). Returns (cell int,
    centroid array<double>)."""
    lowest = corpus.orderBy(id_col).limit(ncells)
    w = Window.orderBy(id_col)
    return lowest.select(
        (F.row_number().over(w) - 1).cast("int").alias("cell"),
        F.expr(
            f"transform({vec_col}, v -> CAST(v AS DOUBLE))"
        ).alias("centroid"),
    )


def assign_cells(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its IVF cell: argmax cosine against the
    frozen centroids, 6dp-rounded with ties to the lowest cell (the
    q228/q235 routing determinism contract, so the SQL oracle lands
    on the identical cell). Returns ``vecs`` + ``cell`` int.

    Shape: the centroid table broadcasts (ncells rows), the argmax is
    a per-id window over batch × ncells rows — linear in the batch.
    At very large ncells fold the assignment into an Arrow GEMM stage
    like pq_encode's instead; the frame contract stays the same."""
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_ccos"), F.asc("cell")
    )
    return (
        vecs.join(F.broadcast(centroids))
        .withColumn(
            "_ccos", F.round(cosine(F.col(vec_col), F.col("centroid")), 6)
        )
        .withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") == 1)
        .drop("centroid", "_ccos", "_crank")
    )


def bootstrap_routed(
    spark: SparkSession,
    batch_vecs: DataFrame,
    queries: DataFrame,
    state_dir: str,
    nprobe: int = 2,
    nsub: int = 8,
    dsub: int = 8,
    ncent: int = 64,
    ncells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Freeze (or reload) the routed index's constants and precompute
    everything that never changes after bootstrap: the PQ codebook
    (frame + dense array), the IVF centroids, the standing queries'
    ADC LUT, and their cell ROUTING (rsets/cells_needed — centroids
    and queries are both frozen, so the nprobe routing is a constant
    of the stream). Per-trigger recomputation of these was 3 collect
    jobs + 2 broadcast-join/window plans per trigger of pure fixed
    overhead (round-13 bench: q240's wall is ~all job count at bench
    scale). Safe on replay: writes only when state is missing."""
    base = bootstrap_index(
        spark, batch_vecs, queries, state_dir, nsub, dsub, ncent,
        id_col, vec_col,
    )
    cent_dir = os.path.join(state_dir, "centroids")
    cents = read_state(spark, cent_dir)
    if cents is None:
        ivf_centroids_lowest(batch_vecs, ncells, id_col, vec_col).write.parquet(
            cent_dir
        )
        cents = read_state(spark, cent_dir)
    q_routed = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .join(F.broadcast(cents))
        .withColumn(
            "_ccos", F.round(cosine(F.col("q_vec"), F.col("centroid")), 6)
        )
        .withColumn(
            "_crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("_ccos"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("_crank") <= nprobe)
        .select("query_id", "cell")
    )
    routed_rows = q_routed.collect()  # bounded: |queries| x nprobe
    rsets: "dict[int, set[int]]" = {}
    for r in routed_rows:
        rsets.setdefault(r.query_id, set()).add(r.cell)
    base.update(
        {
            "cents": cents,
            "routed_rows": [(int(r.query_id), int(r.cell)) for r in routed_rows],
            "rsets": rsets,
            "cells_needed": sorted({r.cell for r in routed_rows}),
        }
    )
    return base


def accept_batch_routed(
    spark: SparkSession,
    batch_vecs: DataFrame,
    queries: DataFrame,
    state_dir: str,
    k: int = 3,
    nprobe: int = 2,
    nsub: int = 8,
    dsub: int = 8,
    ncent: int = 64,
    ncells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    frozen: "dict | None" = None,
) -> DataFrame:
    """One ingest step of the IVF-ROUTED streaming PQ index — the
    sublinear upgrade of :func:`accept_batch`, whose per-trigger ADC
    scan of the ENTIRE code store was round 12's one flagged
    scale-killer (at 10^12 vectors the 8 B/vec store is ~8 TB scanned
    per trigger). q235's cell routing wired into q238's state:

    * bootstrap freezes the PQ codebook AND the IVF centroids
      (``<state>/centroids``) from the first batch — frozen together
      because re-assigning cells on a centroid change would be the
      same full-store rewrite a codebook change is;
    * each batch vector is routed to its cell (6dp-cosine argmax,
      deterministic) and its PQ codes land CELL-KEYED —
      ``<state>/codes/label=<cell>/`` via partitionBy, so the cell is
      directory structure, not row data;
    * replay idempotence narrows with the routing: the anti-join
      reads only the cells this batch TOUCHES (assignment is
      deterministic, so a replayed id always lands in the same cell);
    * retrieval reads ONLY the ≤ |queries|·nprobe routed cell
      directories — the per-trigger listing and scan are proportional
      to routed cells, never to store size. Scoring is the
      ivf_pq_rerank Arrow stage (per-query cell masks from a bounded
      driver dict, fixed sub-order ADC fold).

    Returns (query_id, neighbor_id, adc, rank, n_scanned) with
    ``n_scanned`` = rows read from the query's routed cells at this
    trigger (its own indexed vector included — it is scanned, then
    self-excluded from scoring): the per-query pin that retrieval
    cost tracks routed-cell mass, not the store.

    ``frozen``: the :func:`bootstrap_routed` dict. When given, the
    per-trigger work drops to: assign+encode+touched-collect (ONE job
    — round 14 folds the touched-cells collect into the encode's
    lazy-checkpoint materialization), ONE read pass over the
    touched∪routed cell directories, the anti-joined append, and the
    scoring job — the codebook collect, LUT build, query routing, and
    the second per-cell read pass (round 12 read the routed cells
    again AFTER the append; the post-append content is prior ∪ the
    just-checkpointed new codes, so no re-listing is needed) are
    gone. ``None`` keeps the self-contained per-call shape."""
    import numpy as np
    import pandas as pd

    codes_dir = os.path.join(state_dir, "codes")
    if frozen is None:
        frozen = bootstrap_routed(
            spark, batch_vecs, queries, state_dir, nprobe, nsub, dsub,
            ncent, ncells, id_col, vec_col,
        )
    cb = frozen["cb"]
    cents = frozen["cents"]
    rsets = frozen["rsets"]
    cells_needed = frozen["cells_needed"]

    # -- encode cell-keyed; idempotent append touching only the
    #    batch's own cells --
    assigned = assign_cells(batch_vecs, cents, id_col, vec_col)
    # LAZY checkpoint (round 14, VERDICT r13 "Next round" #8): the
    # touched-cells collect below is the checkpoint's FIRST action,
    # so the encode materializes and the labels reach the driver in
    # the SAME job — the round-13 shape paid one eager-checkpoint job
    # plus a second job for the distinct-collect. No accumulator /
    # Arrow-to-driver coupling needed. The anti-join, append write
    # and scoring pass all reuse the checkpointed codes.
    codes_new = pq_encode(
        assigned, cb, nsub, dsub, id_col, vec_col, label_col="cell",
        cb_arr=frozen["cb_arr"],
    ).localCheckpoint(eager=False)
    touched = sorted(
        r.label for r in codes_new.select("label").distinct().collect()
    )  # bounded: <= ncells; materializes the encode checkpoint
    # ONE pinned read over every cell this trigger touches or routes
    # to: per-cell file lists via the state pin (call-time snapshot —
    # later appends/compactions can't leak into this trigger's plan),
    # then a single explicit-schema spark.read (no per-dir footer
    # probe) with the cell recovered from the file path. Serves both
    # the anti-join (touched cells) and the scoring read (routed).
    files: "list[str]" = []
    for c in sorted(set(touched) | set(cells_needed)):
        cell_dir = os.path.join(codes_dir, f"label={c}")
        fl = list_state_files(spark, cell_dir)
        if fl:
            files.extend(fl)
        elif fl is not None:
            # EXISTING cell dir with zero data files (e.g. only
            # _SUCCESS from a crashed write) — read_state's loud
            # failure mode, not "cell empty" (ADVICE r13): treating
            # it as empty would skip the anti-join against that
            # cell's prior ids and append duplicates on replay.
            spark.read.parquet(cell_dir)  # raises: cannot infer schema
            raise ValueError(
                f"state cell dir {cell_dir} exists but lists no data "
                f"files — refusing to treat prior state as empty"
            )
    prior_all = None
    if files:
        # Explicit schema = no footer probe per dir — but that DEFERS
        # corruption detection: a damaged state file now raises when
        # the verdict/scoring plan evaluates (after this trigger's
        # append has run) instead of inside this call, a documented
        # weakening of the statestore fail-loudly-at-read contract.
        # The error still propagates and fails the trigger; the
        # append it leaves behind is the idempotent kind (anti-joined
        # on replay), so a retried batch converges to the same state.
        prior_all = (
            spark.read.schema("id long, codes array<int>")
            .parquet(*files)
            .withColumn(
                "cell",
                F.regexp_extract(
                    F.input_file_name(), r"label=(\d+)", 1
                ).cast("int"),
            )
        )
    if prior_all is not None:
        prior_ids = prior_all.filter(
            F.col("cell").isin([int(c) for c in touched])
        ).select("id")
        codes_new = codes_new.join(prior_ids, "id", "left_anti")
    codes_new.write.partitionBy("label").mode("append").parquet(codes_dir)

    # -- the routed cells' post-append content, with no second
    #    listing: pre-append snapshot ∪ the batch's own (anti-joined,
    #    checkpointed) new codes in those cells. No materialization:
    #    the scoring pass and the n_scanned census both evaluate
    #    inside the caller's one action over these pinned file scans.
    store = None
    if prior_all is not None:
        store = prior_all.filter(
            F.col("cell").isin([int(c) for c in cells_needed])
        ).select("id", "codes", "cell")
    new_in_cells = codes_new.filter(
        F.col("label").isin([int(c) for c in cells_needed])
    ).select("id", "codes", F.col("label").cast("int").alias("cell"))
    store = new_in_cells if store is None else store.unionByName(new_in_cells)

    qids, lut = frozen["lut"]
    bc = spark.sparkContext.broadcast((qids, lut, rsets))

    def _score(it):
        qids_, lut_, rsets_ = bc.value
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            cm = np.vstack(pdf["codes"].to_numpy())
            labels = pdf["cell"].to_numpy()
            outs = {"query_id": [], "neighbor_id": [], "adc": []}
            for qi, qid in enumerate(qids_):
                cells_ = rsets_.get(qid)
                if not cells_:
                    continue
                mask = np.isin(labels, list(cells_)) & (ids != qid)
                if not mask.any():
                    continue
                mc = cm[mask]
                # fixed-order accumulation: sub 0, then += sub 1.. —
                # the oracle's fold, bit-identical
                s = lut_[qi, 0, mc[:, 0]].copy()
                for sub in range(1, nsub):
                    s += lut_[qi, sub, mc[:, sub]]
                mids = ids[mask]
                order = np.lexsort((mids, -s))[:k]
                outs["query_id"].extend([qid] * len(order))
                outs["neighbor_id"].extend(mids[order].tolist())
                outs["adc"].extend(s[order].tolist())
            yield pd.DataFrame(outs)

    local = store.mapInPandas(
        _score, schema="query_id long, neighbor_id long, adc double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    topk = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )
    # per-query scanned mass from the ncells-row census of the read
    # slice (never a second pass over unrouted state); the routing
    # pairs are a bootstrap-time constant — a local relation, no job
    q_routed = spark.createDataFrame(
        frozen["routed_rows"], "query_id long, cell int"
    )
    csz = store.groupBy("cell").agg(F.count("*").alias("_csz"))
    n_scan = (
        q_routed.join(F.broadcast(csz), "cell", "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_csz", F.lit(0))).cast("long").alias(
                "n_scanned"
            )
        )
    )
    return topk.join(F.broadcast(n_scan), "query_id").select(
        "query_id", "neighbor_id", "adc", "rank", "n_scanned"
    )


def maintain_code_state(
    spark: SparkSession,
    state_dir: str,
    max_files: int = 64,
    target_rows_per_file: int = 4_000_000,
) -> "dict[int, tuple[int, int]]":
    """Periodic maintenance for the cell-keyed code store: every
    ``accept_batch_routed`` trigger appends one file-set into each
    touched ``codes/label=<cell>/`` directory, and read_state's
    call-time pin lists that directory per retrieval — the same
    accretion the gram seen-set has (substrdedup.maintain_gram_state).
    Compact each cell directory whose data-file count exceeds
    ``max_files`` via compact_dir (id-sorted shards; crash-safe via
    recover_compact_crash). Per-cell jobs keep each maintenance run
    bounded by ONE cell's mass — the partitioned-layout discipline
    compact_dir's docstring prescribes. Returns {cell: (files_before,
    files_after)} for the cells compacted.

    SAFETY: same as the gram state — compaction deletes the old
    files, so run only after the trigger's output is durably written
    (no lazy plan still pinning a pre-compaction file list)."""
    from bigdataflink_spark.sources.formats import compact_dir, hadoop_fs

    codes_dir = os.path.join(state_dir, "codes")
    fs, hpath, _ = hadoop_fs(spark, codes_dir)
    if not fs.exists(hpath):
        return {}
    done: "dict[int, tuple[int, int]]" = {}
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith("label="):
            continue
        n = sum(
            1
            for f in fs.listStatus(st.getPath())
            if not f.isDirectory()
            and not f.getPath().getName().startswith("_")
            and not f.getPath().getName().startswith(".")
        )
        if n <= max_files:
            continue
        cell = int(name.split("=", 1)[1])
        done[cell] = compact_dir(
            spark,
            os.path.join(codes_dir, name),
            ["id"],
            target_rows_per_file,
        )
    return done


def run_pq_index_stream(
    spark: SparkSession,
    stream: DataFrame,
    queries: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    k: int = 3,
    nprobe: int = 2,
    nsub: int = 8,
    dsub: int = 8,
    ncent: int = 64,
    ncells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_after_files: "int | None" = 64,
) -> None:
    """Drain ``stream`` (availableNow) through the IVF-routed PQ
    index: per micro-batch, :func:`accept_batch_routed` encodes and
    folds the batch cell-keyed, the standing ``queries``' routed
    top-k rows (+ batch_id) land in ``out_dir`` as parquet, and —
    AFTER the trigger's output is durably written, the
    run_substr_stream ordering discipline — over-fragmented cell
    directories are compacted via :func:`maintain_code_state`
    (``None`` disables maintenance). An empty micro-batch is skipped
    entirely (a bootstrap batch must carry vectors — an empty frozen
    codebook would be wrong forever).

    The frozen constants (codebook array, LUT, query routing) are
    bootstrapped ONCE from the first non-empty batch and reused for
    every later trigger — they are pure functions of state the
    bootstrap froze, so replays and restarts reload identical values
    (bootstrap_routed reads state when it exists)."""
    frozen: "dict | None" = None

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal frozen
        if batch_df.isEmpty():
            return
        if frozen is None:
            frozen = bootstrap_routed(
                spark, batch_df, queries, state_dir, nprobe, nsub,
                dsub, ncent, ncells, id_col, vec_col,
            )
        out = accept_batch_routed(
            spark, batch_df, queries, state_dir, k, nprobe, nsub,
            dsub, ncent, ncells, id_col, vec_col, frozen=frozen,
        )
        out.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)
        if compact_after_files is not None:
            maintain_code_state(spark, state_dir, compact_after_files)

    start_foreach_batch(stream, checkpoint_dir, _process).awaitTermination()
