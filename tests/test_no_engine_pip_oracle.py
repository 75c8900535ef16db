"""Guard: the engine has one point-in-polygon kernel.

Every spatial join probes a flat ``geo.index.PolyIndex`` through
``geo_join._assign_batch``. ``geo.geom.points_in_polygon`` is the
independent per-ring oracle the tests, ``bench.py`` and perfbench check
that kernel against; an engine module calling it would be a second
join kernel the oracle no longer checks. An AST scan over
``europe_gis_spark/`` for calls to ``points_in_polygon`` outside
``geo/geom.py``. No Spark."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "europe_gis_spark"
ORACLE = PKG / "geo" / "geom.py"


def _oracle_calls(src: str):
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "points_in_polygon":
                yield node.lineno


def test_scan_finds_oracle_calls():
    src = (
        "geom.points_in_polygon(x, y, p)\n"
        "points_in_polygon(x, y, p)\n"
        "f(points_in_polygon)\n"
    )
    assert list(_oracle_calls(src)) == [1, 2]


def test_engine_never_calls_pip_oracle():
    hits = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path != ORACLE
        for line in _oracle_calls(path.read_text(encoding="utf-8"))
    ]
    assert not hits, "engine calls geom.points_in_polygon:\n" + "\n".join(hits)
