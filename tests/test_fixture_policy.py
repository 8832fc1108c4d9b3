"""Fixture-policy guard: catalog.py is the only package module that maps
fixture tables to files and decides where the engine writes.

Mirrors tests/test_guards_r12.py: an AST scan of every package module.
Outside catalog.py no module may
  - define `_SCRATCH` or `_scratch` (use catalog.scratch / SCRATCH_ROOT),
  - read the "spark.sql.warehouse.dir" conf (use catalog.warehouse_path),
  - call `getmtime` or `os.scandir` (use catalog.fixture_stamp /
    fixture_bytes),
  - use `timestamp_micros`, as a function or inside a SQL string (use
    catalog.normalize_ts: a private copy of the ns→µs rule can drift to
    float division, which is 1 µs off for many ns epochs).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "parking_violations_data_pipeline_spark"

_BANNED_DEFS = {"_SCRATCH", "_scratch"}
_BANNED_CALLS = {"getmtime", "scandir", "timestamp_micros"}
_WAREHOUSE_CONF = "spark.sql.warehouse.dir"


def _docstrings(tree: ast.AST) -> set[int]:
    ids: set[int] = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = n.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def violations(source: str) -> list[str]:
    """Policy violations in one module's source, as `line: what`."""
    tree = ast.parse(source)
    docs = _docstrings(tree)
    found: list[str] = []
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name in _BANNED_DEFS:
            found.append(f"{n.lineno}: defines {n.name}")
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id in _BANNED_DEFS:
                    found.append(f"{n.lineno}: defines {t.id}")
        elif isinstance(n, ast.Call):
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _BANNED_CALLS:
                found.append(f"{n.lineno}: calls {name}")
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            if n.value == _WAREHOUSE_CONF:
                found.append(f"{n.lineno}: reads {_WAREHOUSE_CONF}")
            if "timestamp_micros(" in n.value:
                found.append(f"{n.lineno}: timestamp_micros in a SQL string")
    return found


def test_only_catalog_knows_fixture_files_and_scratch_paths():
    scanned, bad = 0, {}
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        if rel == "catalog.py":
            continue
        scanned += 1
        v = violations(p.read_text())
        if v:
            bad[rel] = v
    assert scanned > 50, f"scan found only {scanned} modules under {PKG}"
    assert not bad, (
        "fixture/scratch policy copies outside catalog.py — call "
        "catalog.scratch / fixture_stamp / fixture_bytes / normalize_ts / "
        f"warehouse_path instead: {bad}"
    )


def test_scanner_flags_each_banned_idiom():
    src = '''
"""docstring naming spark.sql.warehouse.dir and timestamp_micros(ts) is fine"""
import os
_SCRATCH = ".tmp"
def _scratch(name):
    return os.path.getmtime(name)
def f(spark, p, F):
    spark.conf.get("spark.sql.warehouse.dir")
    os.scandir(p)
    F.timestamp_micros(p)
    return F.expr("timestamp_micros(ts div 1000)")
'''
    v = violations(src)
    assert len(v) == 7, v
