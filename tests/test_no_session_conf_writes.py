"""Guard: no engine code writes the shared session's conf.

Queries may share one SparkSession, so an operator that sets or unsets
a ``spark.conf`` key mid-query changes the plans of every other query
running on it. Session-wide settings belong to ``session.get_spark``'s
builder; plan-local choices belong in the plan. An AST scan over
``europe_gis_spark/`` for ``<anything>.conf.set(...)`` and
``<anything>.conf.unset(...)`` calls. No Spark."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "europe_gis_spark"


def _conf_writes(src: str):
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            yield node.lineno, node.func.attr


def test_scan_finds_conf_writes():
    src = 'spark.conf.set("k", "v")\ns.sparkSession.conf.unset("k")\nd.set(1)\n'
    assert list(_conf_writes(src)) == [(1, "set"), (2, "unset")]


def test_engine_never_writes_session_conf():
    hits = [
        f"{path.relative_to(PKG.parent)}:{line} .conf.{attr}("
        for path in sorted(PKG.rglob("*.py"))
        for line, attr in _conf_writes(path.read_text(encoding="utf-8"))
    ]
    assert not hits, "session conf written inside the engine:\n" + "\n".join(hits)
