"""Every ``dionysus_rb_spark`` name the scripts outside the package import
must exist.

The validation harnesses under ``tools/``, ``bench.py`` and
``__spark_entry__.py`` are not imported by any other test, so a harness
left pointing at a deleted operator would only fail when someone runs
it. This check parses each script with ``ast`` (nothing is executed and
no Spark session starts), imports the package modules it names, and
resolves both ``from dionysus_rb_spark.x import name`` and
``module.attr`` on an imported package module.
"""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dionysus_rb_spark"
SCRIPTS = sorted(ROOT.glob("tools/**/*.py")) + [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

_MISSING = object()


def _member(mod: types.ModuleType, name: str):
    """``mod.name``, importing it as a submodule if needed."""
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{mod.__name__}.{name}")
    except ModuleNotFoundError:
        return _MISSING


def unresolved(source: str, filename: str = "<script>") -> list[str]:
    """The package names ``source`` imports or reads that do not exist,
    as ``file:line name`` strings."""
    tree = ast.parse(source, filename)
    bound: dict[str, object] = {}
    bad: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                try:
                    mod = importlib.import_module(a.name)
                except ModuleNotFoundError:
                    bad.append(f"{filename}:{node.lineno} {a.name}")
                    continue
                if a.asname:
                    bound[a.asname] = mod
                else:
                    bound[PKG] = importlib.import_module(PKG)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] != PKG:
                continue
            try:
                mod = importlib.import_module(node.module)
            except ModuleNotFoundError:
                bad.append(f"{filename}:{node.lineno} {node.module}")
                continue
            for a in node.names:
                if a.name == "*":
                    continue
                obj = _member(mod, a.name)
                if obj is _MISSING:
                    bad.append(f"{filename}:{node.lineno} {node.module}.{a.name}")
                else:
                    bound[a.asname or a.name] = obj

    def target(node: ast.expr):
        # the package object an expression names, or None when it is
        # not an attribute chain on an imported package module
        if isinstance(node, ast.Name):
            return bound.get(node.id)
        if isinstance(node, ast.Attribute):
            base = target(node.value)
            if isinstance(base, types.ModuleType):
                obj = _member(base, node.attr)
                if obj is _MISSING:
                    bad.append(f"{filename}:{node.lineno} {base.__name__}.{node.attr}")
                    return None
                return obj
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            target(node)
    return sorted(set(bad))


def test_scripts_import_only_existing_package_names():
    assert len(SCRIPTS) > 2
    bad: list[str] = []
    for path in SCRIPTS:
        bad += unresolved(path.read_text(), str(path.relative_to(ROOT)))
    assert bad == [], f"scripts import package names that do not exist: {bad}"


def test_checker_reports_a_deleted_name():
    src = (
        "from dionysus_rb_spark.operators.minhash import build_dedup_index, gone_fn\n"
        "from dionysus_rb_spark.operators import minhash\n"
        "import dionysus_rb_spark.session as sess\n"
        "minhash.build_dedup_index_bucketed(None, 'p')\n"
        "sess.get_spark\n"
    )
    assert unresolved(src, "s.py") == [
        "s.py:1 dionysus_rb_spark.operators.minhash.gone_fn",
        "s.py:4 dionysus_rb_spark.operators.minhash.build_dedup_index_bucketed",
    ]
