"""Reachability gate: every public top-level function or class of the
package has a caller outside the tests, or an allowlist entry that says
why it stays.

A plain ``ast`` pass in the style of ``tests/test_unused_imports.py``.
A public name is a top-level ``def`` / ``class`` whose name does not start
with ``_``; ``@query`` / ``@builder`` functions are exempt (the registry
reaches them, and ``test_every_builder_is_reached`` covers builders). A
name is reached when a non-test source refers to it outside its own body:
an ``ast.Name`` or ``ast.Attribute`` node, an import alias, or a string
constant equal to the name. Only the defining module and the modules that
import it count, so one module's name cannot hide another's. Docstrings,
comments and ``__all__`` do not count. The non-test sources are the
package, ``bench.py``, ``bench_scaling.py``, ``__spark_entry__.py`` and
``perfbench/*.py``."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "aws_flight_data_pipeline_spark"

#: name -> why it stays without a non-test caller. Paper-surface entries
#: cite the reference file:line they reproduce (SURVEY.md); the rest name
#: the open ROADMAP direction that owns them and go when it closes.
ALLOWLIST: dict[str, str] = {
    # -- the paper's surface --
    "register_sql_functions": "the inline helpers of sql/athena/*.sql as named SQL functions",
    "statistical_outlier_flags": "z-score outliers (sql/athena/04:483-537)",
    "batch_check_suite": "the 16-check validator (data_quality_validator.py:34-51, :80-843)",
    "overall_quality_report": "the validator's orchestration (data_quality_validator.py:863-929)",
    "speed_category_banded": "speed bands (data_transformer.py:590-610)",
    "flight_phase_detailed": "flight phase rules (data_transformer.py:523-588)",
    "WorkloadMonitor": "query workload monitor (query_optimizer.py:91-148, :186-226)",
    "quarantine_statistics": "quarantine stats (quarantine_system.py:387-659)",
    "quarantine_cleanup_candidates": "quarantine retention (quarantine_system.py:563-659)",
    "evaluate_alerts": "quality alert rules (alerting.py:398-520)",
    "batch_quality_summary": "per-batch quality rollup (03_create_processed_tables.sql:140-185)",
    "apply_missing_value_strategies": "missing-value strategies (data_transformer.py:117-126)",
    "with_leg_distance": "leg distance (data_transformer.py:409-472)",
    "with_climb_rate": "climb rate (data_transformer.py:474-496)",
    "with_acceleration": "acceleration (data_transformer.py:499-518)",
    "default_quality_score": "completeness score (data_transformer.py:612-659)",
    "flight_stats_payload": "the stats API payload (get_flight_data.py:319-368)",
    "with_analytics_categories": "the analytics CASE ladders (sql/athena/04:47-63, 06:31-75)",
    "q4_peak_traffic": "peak traffic hours (sql/athena/04:220-322)",
    "q5_route_corridors": "route corridors (sql/athena/04:325-475)",
    "q9_temporal_patterns": "temporal patterns (sql/athena/05:311-467)",
    "q10_quality_assessment": "quality assessment (sql/athena/05:469-657)",
    "daily_flight_summary": "the daily summary view (sql/athena/06:182-325)",
    "realtime_flight_metrics": "the realtime view (sql/athena/06:332-497)",
    "data_quality_dashboard": "the quality dashboard view (sql/athena/06:505)",
    "high_quality_flights": "the high-quality view (sql/athena/03:332-353)",
    "lake_file_audit": "compaction advice (07_optimization_guide.sql:384-447)",
    "compaction_plan": "compaction advice (07_optimization_guide.sql:384-447)",
    "compact": "compaction advice (07_optimization_guide.sql:384-447)",
    "read_latest_batch": "latest raw batch read (get_flight_data.py:116-238)",
    "ingestion_log_entry": "the ingestion log record (02_create_raw_tables.sql:104-123)",
    "write_processed": "the processed-zone layout (flight_data_ingestion.py:354-368)",
    "streaming_dedup": "key+tolerance dedup (data_transformer.py:109-114)",
    "windowed_traffic_summary": "the hourly summary as a stream (sql/athena/06:12-175)",
    "sliding_realtime_metrics": "the last-4-hours view as a stream (sql/athena/06:512-515)",
    "stateful_stuck_detector": "the stuck-aircraft history (anomaly_detector.py:656-681)",
    "streaming_sessionization": "per-key batch state as sessions (main_validator.py:108-153)",
    "bearing_cardinal": "the bearing CASE (sql/athena/05:170-180); the twin of its SQL function",
    "grid_cell": "the 2-degree geo grid (sql/athena/04:331-336); the twin of its SQL function",
    # -- owned by an open ROADMAP direction --
    "vacuum": "ROADMAP directions 4, 9, 13: the table's retention, reworked with the manifest",
    "optimize": "ROADMAP directions 4, 9, 13: folds tombstones, compacts the table",
    "rollback": "ROADMAP directions 4, 9, 13: restores a version over the manifest",
    "history": "ROADMAP directions 4, 9, 13: lists the manifest chain",
    "compact_index": "ROADMAP direction 4: folds the index tombstones into one mechanism",
    "streaming_unified_admission_gate": "ROADMAP direction 13: its append-per-batch workload",
}


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                ids.add(id(first.value))
    return ids


def _references(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every reference in ``tree``, docstrings and
    ``__all__`` excluded."""
    skip = _docstrings(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            skip |= {id(n) for n in ast.walk(node)}
    refs = []
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            refs.append((node.name.rsplit(".", 1)[-1], node.lineno))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.append((node.value, node.lineno))
    return refs


def _module_name(path: pathlib.Path, root: pathlib.Path) -> str:
    parts = path.relative_to(root).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(tree: ast.AST, module: str, is_package: bool) -> set[str]:
    """Dotted names of the modules ``tree`` imports, anywhere in the file;
    ``from X import y`` adds ``X`` and ``X.y`` (``y`` may be a module)."""
    package = module.split(".") if is_package else module.split(".")[:-1]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package[: len(package) - node.level + 1]
                base = ".".join([*parent, *([node.module] if node.module else [])])
            out.add(base)
            out |= {f"{base}.{a.name}" for a in node.names}
    return out


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) in ("query", "builder"):
            return True
    return False


def unreached(package: pathlib.Path, callers: list[pathlib.Path]) -> list[str]:
    """``module:line name`` of each public top-level def or class in
    ``package`` that nothing in ``package`` or ``callers`` refers to outside
    its own body, counting only the defining module and its importers."""
    modules = sorted(package.rglob("*.py"))
    trees = {p: ast.parse(p.read_text()) for p in [*modules, *callers]}
    refs = {p: _references(t) for p, t in trees.items()}
    names = {p: _module_name(p, package.parent) for p in trees}
    imports = {p: _imports(t, names[p], p.name == "__init__.py") for p, t in trees.items()}
    out = []
    for path in modules:
        readers = [p for p in trees if p == path or names[path] in imports[p]]
        for node in trees[path].body:
            if (
                not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                or node.name.startswith("_")
                or _registered(node)
            ):
                continue
            if not any(
                name == node.name and not (p == path and node.lineno <= line <= node.end_lineno)
                for p in readers
                for name, line in refs[p]
            ):
                out.append(f"{path.relative_to(package.parent)}:{node.lineno} {node.name}")
    return out


def _callers() -> list[pathlib.Path]:
    return [
        REPO / "bench.py",
        REPO / "bench_scaling.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "perfbench").glob("*.py")),
    ]


def test_every_public_function_has_a_caller():
    hits = unreached(PACKAGE, _callers())
    offenders = [h for h in hits if h.split()[-1] not in ALLOWLIST]
    assert offenders == [], f"public functions only tests reach: {offenders}"
    stale = sorted(set(ALLOWLIST) - {h.split()[-1] for h in hits})
    assert stale == [], f"allowlisted names that now have a caller: {stale}"


def test_gate_reports_a_test_only_function(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        '"""Mentions only_in_docstring and test_only."""\n'
        "def used():\n"
        '    """Calls only_in_docstring() in prose."""\n'
        "    return 1\n"
        "def only_in_docstring():\n"
        "    return only_in_docstring\n"
        "def test_only():\n"
        "    return 2\n"
        "def _private():\n"
        "    return 3\n"
        "__all__ = ['test_only']\n"
    )
    caller = tmp_path / "main.py"
    caller.write_text("from pkg.mod import used\nprint(used())\n")
    assert unreached(pkg, [caller]) == [
        "pkg/mod.py:5 only_in_docstring",
        "pkg/mod.py:7 test_only",
    ]


def test_gate_counts_only_the_defining_module_and_its_importers(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def shared():\n    return 1\n")
    (pkg / "b.py").write_text("def shared():\n    return 2\n")
    (pkg / "c.py").write_text(
        "from . import a\n"
        "def run():\n"
        "    return a.shared()\n"
    )
    caller = tmp_path / "main.py"
    caller.write_text("from pkg.c import run\nprint(run(), 'shared')\n")
    # b.shared shares a's name, but nothing that refers to it imports b
    assert unreached(pkg, [caller]) == ["pkg/b.py:1 shared"]
