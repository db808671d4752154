"""Pin lifetime: ``pins.pinned`` is the one way to pin an intermediate.

The lint below fails on any ``.persist(`` / ``.cache(`` / ``.unpersist(``
call in the package outside ``pins.py`` and the two swaps that must
overlap two pins: bpe's rolling merge loop and ``fit_ready``'s
coalesce.  Everything else pins with ``with pinned(df) as df:``."""

from __future__ import annotations

import ast
import pathlib

import pytest

from sf_datalake_spark.pins import pinned

PKG = pathlib.Path(__file__).resolve().parents[1] / "sf_datalake_spark"

#: (module, enclosing function) allowed to call the pin methods directly;
#: None admits the whole module
_ALLOWED = {
    ("pins.py", None),
    ("operators/bpe.py", "_distributed_merge_loop"),
    ("ml/models.py", "fit_ready"),
}


def _pin_calls(tree: ast.AST):
    """Yield (line, enclosing function names) of each pin-method call."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + (child.name,)
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("persist", "cache", "unpersist")
            ):
                yield child.lineno, scope
            yield from walk(child, inner)

    yield from walk(tree, ())


def test_pin_calls_only_in_pin_scopes():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line, scope in _pin_calls(ast.parse(path.read_text())):
            if (rel, None) in _ALLOWED or any((rel, f) in _ALLOWED for f in scope):
                continue
            offenders.append(f"{rel}:{line}")
    assert not offenders, (
        "pin through sf_datalake_spark.pins.pinned, not a hand-written "
        f"persist/cache/unpersist: {offenders}"
    )


def test_pinned_releases_on_exit_and_on_error(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    with pinned(spark.range(100).selectExpr("id * 2 AS x")) as df:
        assert df.count() == 100
        assert df.storageLevel.useMemory
        assert cm.numCachedEntries() == before + 1
    assert cm.numCachedEntries() == before

    with pytest.raises(ValueError):
        with pinned(spark.range(10)):
            raise ValueError("body failed")
    assert cm.numCachedEntries() == before
