"""Persist guard: every `.persist(...)` or `.cache()` in the package is
released by an `.unpersist()` in the same function.

A persisted plan that outlives its call is a cross-run cache: Spark's
CacheManager matches any later plan with the same result to its blocks,
so the next call of the entry reads the first call's data, stale once a
fixture is rewritten in place. Mirrors tests/test_fixture_policy.py: an
AST scan of every package module.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "parking_violations_data_pipeline_spark"


def _calls(body: list[ast.stmt]) -> list[ast.Call]:
    """Calls in `body`, not counting those inside nested functions."""
    out: list[ast.Call] = []
    stack: list[ast.AST] = list(body)
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(n, ast.Call):
            out.append(n)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _method(call: ast.Call) -> str | None:
    return call.func.attr if isinstance(call.func, ast.Attribute) else None


def _persists(call: ast.Call) -> bool:
    m = _method(call)
    return m == "persist" or (m == "cache" and not call.args and not call.keywords)


def violations(source: str) -> list[str]:
    """Persists without an unpersist in the same scope, as `line: scope`."""
    tree = ast.parse(source)
    scopes: list[tuple[str, list[ast.stmt]]] = [("<module>", tree.body)]
    scopes += [
        (n.name, n.body)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    found: list[tuple[int, str]] = []
    for name, body in scopes:
        calls = _calls(body)
        if not any(_method(c) == "unpersist" for c in calls):
            found += [(c.lineno, name) for c in calls if _persists(c)]
    return [f"{line}: {name}" for line, name in sorted(found)]


def test_every_persist_is_released_in_its_function():
    scanned, bad = 0, {}
    for p in sorted(PKG.rglob("*.py")):
        scanned += 1
        v = violations(p.read_text())
        if v:
            bad[str(p.relative_to(PKG))] = v
    assert scanned > 50, f"scan found only {scanned} modules under {PKG}"
    assert not bad, f"persist/cache with no unpersist() in the same function: {bad}"


def test_scanner_flags_an_unreleased_persist():
    src = '''
from pyspark import StorageLevel
top = df.cache()
def leaks(df):
    sh = df.persist(StorageLevel.DISK_ONLY)
    def inner(x):
        x.unpersist()  # an inner function's release does not count
    return sh.count()
def leaks_cache(df):
    return df.cache().count()
def releases(df):
    base = df.cache()
    n = base.count()
    base.unpersist()
    return n
def not_a_persist(fn):
    return functools.cache(fn)
'''
    v = violations(src)
    assert v == ["3: <module>", "5: leaks", "10: leaks_cache"], v
