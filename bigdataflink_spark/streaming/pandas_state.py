"""Custom stateful streaming operators on ``applyInPandasWithState``
(SURVEY.md §2.9 T3 / §2.10) — the Arrow-batched arbitrary-state API
that runs on the plain Python worker.

This is the package's first-seen TTL dedup. It deliberately uses
``applyInPandasWithState``, which speaks the classic Arrow worker
protocol, rather than the newer ``transformWithStateInPandas``, which
needs the protobuf state-server protocol and the RocksDB state store
provider — so the dedup semantics and tests below run on a plain
PySpark install.

Semantics mirror the reference's idempotent-upsert effect
(flink/stream_to_star.py:116-121 makes at-least-once delivery
effectively exactly-once): FIRST-seen row per key wins, repeats are
dropped while the key's marker lives. With a TTL, the marker expires
``ttl_minutes`` after the key was FIRST seen (processing time) — a
fixed redelivery horizon. Two Spark subtleties make this non-trivial:

1. Spark CLEARS the pending processing-time timeout on every
   invocation for a key, so the repeat path must RE-ARM toward the
   original first-seen deadline (stored in the state tuple) — never
   a fresh full TTL, which would let steady duplicate traffic keep a
   key alive forever.
2. A key that receives data in a batch is never invoked with
   ``hasTimedOut`` for that batch, so expiry must ALSO be checked on
   the data path: a repeat arriving past the stored deadline is a
   re-emission (the marker had logically expired), not a drop.

State per key is one marker tuple — O(live keys), Arrow-batched,
partitioned by the grouping key, so the operator scales with key
cardinality across executors like any keyed shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def first_seen_dedup(
    stream: DataFrame,
    key_col: str,
    seq_col: str,
    ttl_minutes: float | None = None,
) -> DataFrame:
    """Emit each key's FIRST row (min ``seq_col`` — deterministic
    within and across micro-batches); drop repeats while the key's
    marker lives. All non-key columns pass through unchanged.

    ``ttl_minutes=None`` keeps markers forever (exact exactly-once
    for a bounded key space); with a TTL the marker expires a fixed
    horizon after FIRST sight and a later redelivery re-emits — the
    documented at-least-once window. The state tuple holds the
    first-seen DEADLINE (epoch ms; 0 = no TTL) so both the timer
    path and the data path agree on when the marker dies.
    """
    fields = stream.schema.fields
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    names = [f.name for f in fields]
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = int(ttl_minutes * 60 * 1000) if ttl_minutes is not None else None

    def dedup(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle key's marker expired: forget it; a future
            # redelivery re-emits (at-least-once horizon, by design)
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        now = state.getCurrentProcessingTimeMs() if ttl_ms is not None else 0
        if state.exists:
            (deadline,) = state.get
            if ttl_ms is None or now < deadline:
                # live marker: all repeats drop. Spark cleared the
                # pending timeout when it invoked us — re-arm toward
                # the ORIGINAL deadline (never a fresh TTL, or
                # steady duplicates would keep the key alive forever)
                if ttl_ms is not None:
                    state.setTimeoutDuration(max(deadline - now, 1))
                return
            # deadline passed but the timer couldn't fire (keys with
            # data are never invoked with hasTimedOut): the marker is
            # logically dead — fall through and treat as first sight
        new_deadline = (now + ttl_ms) if ttl_ms is not None else 0
        state.update((new_deadline,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        first = batch.sort_values(seq_col, kind="mergesort").head(1)
        yield first[names]

    return stream.groupBy(key_col).applyInPandasWithState(
        dedup, out_schema, "marker long", "update", timeout
    )
