"""Every top-level function and class of the package is named somewhere
other than its own definition: in the package, the tools, the benchmark
or a test. A definition that nothing names is dead code. Likewise every
defaulted parameter of the package is set by some caller to a value other
than its default: an option that nothing sets is a constant."""

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


# Defaulted parameters that no caller sets but that stay options, each
# with its reason. Only deployment settings belong here.
UNSET_OPTIONS_KEPT: dict[str, str] = {}


def _functions(tree: ast.Module):
    """(function, the name a call uses, index of its first argument) for
    each top-level function and method. A class's ``__init__`` is called
    by the class name; a bound method's first parameter is its object."""
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            yield top, top.name, 0
        elif isinstance(top, ast.ClassDef):
            for f in top.body:
                if isinstance(f, ast.FunctionDef):
                    static = any(getattr(d, "id", None) == "staticmethod"
                                 for d in f.decorator_list)
                    yield f, top.name if f.name == "__init__" else f.name, 0 if static else 1


def _defaulted(fn: ast.FunctionDef):
    """(name, default, index) of each defaulted parameter; keyword-only
    ones have no index."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    for i, (a, d) in enumerate(zip(pos[first:], fn.args.defaults), first):
        yield a.arg, d, i
    for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if d is not None:
            yield a.arg, d, None


def _callee(call: ast.Call):
    """The called name and its positional arguments; ``partial(f, ...)``
    calls f."""
    f, args = call.func, call.args
    if getattr(f, "id", getattr(f, "attr", None)) == "partial" and args:
        f, args = args[0], args[1:]
    return getattr(f, "id", getattr(f, "attr", None)), args


def _sets(arg, name: str, index: int | None, default: ast.AST) -> bool:
    """Whether one call argument ``(keyword or index, value)`` sets the
    parameter to something other than its default. A ``**kwargs`` value
    reaches every parameter and a ``*args`` value every index from its
    own; any expression that is not the default literal (a forwarded
    parameter, say) counts as setting it."""
    key, value = arg
    if key is None:
        return True
    if value is None:
        return index is not None and key <= index
    if key not in (name, index):
        return False
    try:
        return ast.literal_eval(value) != ast.literal_eval(default)
    except ValueError:
        return ast.dump(value) != ast.dump(default)


def test_every_package_option_is_set():
    """Every defaulted parameter of a top-level package function or method
    is set by some call, by keyword or by position, to a value other than
    its default: an option nothing sets is a constant."""
    options, args = [], {}
    for root in SEARCH:
        for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            tree = ast.parse(path.read_text())
            if path.is_relative_to(PACKAGE):
                for fn, called_as, first in _functions(tree):
                    for name, default, i in _defaulted(fn):
                        where = f"{path.relative_to(ROOT)}::{fn.name}({name})"
                        options.append((where, called_as, name, default,
                                        None if i is None else i - first))
            for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
                callee, positional = _callee(call)
                got = args.setdefault(callee, [])
                got += [(i, None if isinstance(a, ast.Starred) else a)
                        for i, a in enumerate(positional)]
                got += [(kw.arg, kw.value) for kw in call.keywords]
    unset = [where for where, callee, name, default, i in options
             if where not in UNSET_OPTIONS_KEPT
             and not any(_sets(a, name, i, default) for a in args.get(callee, []))]
    assert not unset, f"{len(unset)} options no caller sets: {unset}"
