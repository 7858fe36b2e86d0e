#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for every declared
query (scan pruning, join strategies, exchange count) plus the
at-scale rationale. Run from the repo root:

    python tools/plan_audit.py          # writes PLANS.md at sf0.01
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from bigdataflink_spark import get_spark  # noqa: E402
from bigdataflink_spark.plans.queries import REGISTRY  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def audit(plan: str, nested_loop: str | None) -> list[str]:  # noqa: C901
    lines = []
    scans = re.findall(r"\(\d+\) Scan parquet.*?(?=\n\n)", plan, re.S)
    for s in scans:
        label = "?"
        loc = re.search(r"file:([^\]\s,]*)", s)
        if loc:
            path = loc.group(1).rstrip("/")
            m = re.search(r"/(\w+\.parquet)", path)
            if m:
                label = m.group(1)
            else:
                # temp-dir state scans (snapshots, rollup parts, …):
                # label with the last path segments, mkdtemp suffix
                # normalized so the audit is run-independent
                segs = [g for g in path.split("/") if g]
                tail = segs[-2:] if len(segs) >= 2 else segs
                tail = [re.sub(r"_?[a-z0-9_]{8}$", "_*", t) if re.match(r"^q\d+", t) else t for t in tail]
                label = "/".join(tail)
        rs = re.search(r"ReadSchema: struct<([^\n]*)", s)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", s)
        ncols = len(rs.group(1).split(",")) if rs and rs.group(1) else 0
        lines.append(
            f"  - scan `{label}`: {ncols} cols read"
            + (f", pushed: `{pf.group(1)}`" if pf and pf.group(1) else "")
        )
    joins = re.findall(r"(BroadcastHashJoin \w+|SortMergeJoin \w+|BroadcastNestedLoopJoin \w+|ShuffledHashJoin \w+)", plan)
    if joins:
        from collections import Counter

        jc = Counter(joins)
        lines.append("  - joins: " + ", ".join(f"{k} ×{v}" for k, v in sorted(jc.items())))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bc = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
    lines.append(f"  - exchanges: {n_ex} shuffle, {n_bc} broadcast")
    n_imts = len(re.findall(r"InMemoryTableScan", plan))
    if n_imts:
        lines.append(
            f"  - cache: {n_imts} InMemoryTableScan refs of a persisted "
            "intermediate (its source scan executes ONCE at materialization)"
        )
    if "BroadcastNestedLoopJoin" in plan:
        if nested_loop:
            lines.append(f"  - nested loop (intended): {nested_loop}")
        else:
            lines.append("  - ⚠ UNEXPECTED nested-loop join — fix or justify")
    return lines


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan audit of the query suite",
        "",
        f"Generated by `tools/plan_audit.py` at sf0.01 ({SF_DIR}),",
        "`spark.sql.shuffle.partitions=32`, AQE on. For each query:",
        "what the scan actually reads (column pruning + pushed filters),",
        "the join strategies Catalyst picked, the exchange count, and",
        "why that shape survives a 100 TB / 1000-executor scale-up.",
        "",
    ]
    for name, q in sorted(REGISTRY.items()):
        df = q.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # executedPlan before collect is the initial AQE plan; fall back
        # to explain string for the full formatted detail
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"## {name}")
        out.append("")
        out.append(q.note)
        out.append("")
        out.extend(audit(plan, q.nested_loop))
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
