"""Lint gate: no package module or test file keeps a top-level import it
never uses.

The container ships no pyflakes or ruff, so this is the F401 subset as a
plain ``ast`` pass: a name bound by a module-level ``import`` / ``from
... import`` must be read somewhere in the same module (any scope, or
``__all__``). Lines marked ``# noqa: F401`` are deliberate re-exports and
are exempt."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "aws_flight_data_pipeline_spark"
TESTS = REPO / "tests"


def _unused_imports(path: pathlib.Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    bound: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if "# noqa: F401" in lines[node.end_lineno - 1]:
            continue
        for alias in node.names:
            bound[alias.asname or alias.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return [f"{path.relative_to(REPO)}:{line} {name}"
            for name, line in sorted(bound.items(), key=lambda kv: kv[1])
            if name not in used]


def test_no_unused_top_level_imports():
    paths = [*sorted(PACKAGE.rglob("*.py")), *sorted(TESTS.glob("*.py"))]
    offenders = [hit for path in paths for hit in _unused_imports(path)]
    assert offenders == []
