"""Guard: engine code starts no Python worker stage that runs no UDF.

``DataFrame.rdd`` and ``createDataFrame`` on Python rows both run a
PythonRDD stage: a job that starts a Python daemon and its workers only
to (un)pickle rows. Driver-built frames go through
``session.local_frame`` (an Arrow local relation); emptiness checks use
``DataFrame.isEmpty``. An AST scan over ``europe_gis_spark/`` for any
``.rdd`` access and any ``createDataFrame(`` or ``parallelize(`` call
outside ``session.local_frame``. No Spark."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "europe_gis_spark"
CALLS = ("createDataFrame", "parallelize")


def _python_rdd_uses(src: str, allowed_fn: str | None = None):
    tree = ast.parse(src)
    exempt = {
        id(n)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == allowed_fn
        for n in ast.walk(fn)
    }
    for node in ast.walk(tree):
        if id(node) in exempt or not isinstance(node, ast.Attribute):
            continue
        if node.attr == "rdd":
            yield node.lineno, ".rdd"
        elif node.attr in CALLS:
            yield node.lineno, f".{node.attr}("


def test_scan_finds_python_rdd_uses():
    src = (
        "df.rdd.isEmpty()\n"
        "spark.createDataFrame([], 'a long')\n"
        "sc.parallelize([1])\n"
        "def local_frame(spark, t):\n"
        "    return spark.createDataFrame(t)\n"
        "df.isEmpty()\n"
    )
    assert sorted(_python_rdd_uses(src)) == [
        (1, ".rdd"), (2, ".createDataFrame("), (3, ".parallelize("), (5, ".createDataFrame(")
    ]
    assert len(list(_python_rdd_uses(src, allowed_fn="local_frame"))) == 3


def test_engine_builds_frames_only_through_local_frame():
    hits = [
        f"{path.relative_to(PKG.parent)}:{line} {what}"
        for path in sorted(PKG.rglob("*.py"))
        for line, what in _python_rdd_uses(
            path.read_text(encoding="utf-8"),
            allowed_fn="local_frame" if path == PKG / "session.py" else None,
        )
    ]
    assert not hits, "PythonRDD stage outside session.local_frame:\n" + "\n".join(hits)
