"""Every top-level function and class of the package is named somewhere
other than its own definition: in the package, the tools, the benchmark
or a test. A definition that nothing names is dead code."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "processor_post_timeseries_spark"
SEARCH = [PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "tests",
          ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _registered(top: ast.AST) -> bool:
    """Decorated with ``_query``: the registry reaches it by name."""
    return any(getattr(getattr(d, "func", d), "id", None) == "_query"
               for d in getattr(top, "decorator_list", []))


def test_every_package_definition_is_referenced():
    defined, used = [], set()
    for root in SEARCH:
        for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            for top in ast.parse(path.read_text()).body:
                own = getattr(top, "name", None)
                used.update(n for n in _names(top) if n != own)
                if own and path.is_relative_to(PACKAGE) and not _registered(top):
                    defined.append((path.relative_to(ROOT), own))
    orphans = [f"{path}::{name}" for path, name in defined if name not in used]
    assert not orphans, orphans
