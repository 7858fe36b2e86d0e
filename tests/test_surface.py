"""Reachability of the package's top-level names.

Every top-level def, class or assignment in ``bigdataflink_spark/``
must be referenced from some non-test ``.py`` file of the repo (a
query, the pipeline, a tool, bench.py or starbench), be a registered
``@query``, or be listed in ``KEEP`` with the reason it stays. A name
that only tests reach is library surface nobody runs: delete it with
its tests, or keep it here with a reason.

References are the identifiers of ``Name`` loads, ``Attribute`` nodes
and import aliases, found with ``ast``; f-string expressions count,
plain strings and docstrings do not.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "bigdataflink_spark"

KEEP = {
    "persist_star": "MIGRATION.md's mapping of the reference's Postgres DW (persisted star)",
    "load_star": "MIGRATION.md's mapping of the reference's Postgres DW (reads the persisted star)",
    "kafka_json_sink": "the reference's Kafka transport (producer side)",
    "project_kafka_records": "the reference's Kafka transport (consumer side)",
    "upsert_star_batch_dbapi": "the reference's Postgres terminal store (DBAPI upsert sink)",
    "STAR_DDL_SQLITE": "the reference's Postgres terminal store (its DDL)",
    "observe_stream": "the per-trigger quality metrics the telemetry direction wires in",
    "first_seen_dedup": "SURVEY §2.9 T3's engine-state streaming dedup",
    "running_user_totals": "SURVEY §2.9 T3's running-aggregate mapping",
    "zstd_decompress_auto": "the native-codec seam (binding when installed, pure Python otherwise)",
    "lsh_bucket_census": "the documented LSH bucket audit API",
    "write_zordered": "the documented Z-order layout API",
    **{
        twin: "streaming twin; each twin gets a replay crash test"
        for twin in (
            "run_cms_stream",
            "run_kmv_stream",
            "run_moments_stream",
            "run_neardup_stream",
            "run_pq_index_stream",
            "run_quantile_stream",
            "run_continuous_rollup",
            "run_scd2_stream",
            "run_semdedup_stream",
            "run_substr_stream",
            "run_topk_stream",
        )
    },
}


def _sources() -> list[Path]:
    return [
        p
        for p in sorted(ROOT.rglob("*.py"))
        if not any(part == "tests" or part.startswith(".") for part in p.relative_to(ROOT).parts[:-1])
    ]


def _references(tree: ast.AST) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
    return refs


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "query":
            return True
    return False


def _top_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_query(node):
                names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _scan() -> tuple[dict[str, str], set[str]]:
    """(package top-level name -> its file, every referenced identifier)."""
    defined, used = {}, set()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        used |= _references(tree)
        if PACKAGE in path.parents:
            for name in _top_level_names(tree):
                defined.setdefault(name, str(path.relative_to(ROOT)))
    return defined, used


def test_every_package_name_is_reached_or_kept():
    defined, used = _scan()
    unreached = sorted(
        f"{path}::{name}" for name, path in defined.items() if name not in used and name not in KEEP
    )
    assert not unreached, (
        "reached by no query, pipeline, tool or benchmark (delete it, or "
        f"add it to KEEP with a reason): {unreached}"
    )


def test_every_kept_name_exists_and_is_otherwise_unreached():
    defined, used = _scan()
    assert sorted(set(KEEP) - set(defined)) == [], "KEEP names a deleted def"
    assert sorted(set(KEEP) & used) == [], "KEEP names a def that is now reached"
