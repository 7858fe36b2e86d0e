"""Probe: snapshot commit-log read cost vs version count.

Round-4 verdict "What's wrong #1": ``_read_manifest`` opened every
``_log/v-*.json`` record through the Hadoop FS API on every
``read_snapshot``/``list_versions``/``vacuum`` call — O(versions)
driver-side, a per-read stall at a real table's thousands of commits.
Round 5 adds Delta-style log checkpoints (``ckpt-*.json`` folding all
records <= upto); readers do one listing + one checkpoint open + a
bounded tail.

This probe synthesizes N committed versions METADATA-ONLY (records
written through the same ``_append_commit_record`` path; no data dirs
— list_versions never touches data), then times ``list_versions``
with the tail un-checkpointed vs checkpointed.

Usage: python tools/snapshot_log_probe.py [N=1000]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import SparkSession

sys.path.insert(0, ".")
from bigdataflink_spark.measure import best_of  # noqa: E402
from bigdataflink_spark.sources import snapshots as sn  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("snapshot-log-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def build(nv: int) -> str:
        table = tempfile.mkdtemp(prefix=f"snaplog_{nv}_") + "/t"
        for v in range(nv):
            sn._append_commit_record(
                spark,
                table,
                {"version": v, "n_rows": v, "parent": v - 1 if v else None},
            )
        return table

    def t_list(table: str) -> float:
        assert sn.list_versions(spark, table)
        return best_of(lambda: sn.list_versions(spark, table), 5)

    for nv in (100, n):
        table = build(nv)
        tail = t_list(table)
        sn.checkpoint_log(spark, table)
        ckpt = t_list(table)
        print(
            f"versions={nv:5d}  tail-only list_versions={tail*1e3:8.1f} ms"
            f"   checkpointed={ckpt*1e3:8.1f} ms   speedup x{tail/ckpt:.1f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
