"""Guard against unreferenced code in the engine package.

Every top-level ``def``/``class`` in ``europe_gis_spark/`` must be named
somewhere besides its own definition in the repo's ``.py`` files
(engine, tests, bench.py, __spark_entry__.py, perfbench/, scripts_local/).
A plain word scan: a name mentioned only in a comment or a string still
counts as referenced, so the guard flags only code that no file names at
all. No Spark."""

import ast
import collections
import os
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "europe_gis_spark"
_WORD = re.compile(r"\b[A-Za-z_]\w*\b")


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        # hidden dirs hold caches and benchmark checkouts, not the repo's code
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                yield Path(dirpath) / f


def test_every_top_level_definition_is_referenced():
    words = collections.Counter()
    defs = []
    for path in _py_files():
        src = path.read_text(encoding="utf-8")
        words.update(_WORD.findall(src))
        if PKG in path.parents:
            for node in ast.parse(src).body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("__"):
                    defs.append((path.relative_to(ROOT), node.lineno, node.name))
    n_defs = collections.Counter(name for _, _, name in defs)
    dead = [
        f"{path}:{line} {name}"
        for path, line, name in defs
        if words[name] <= n_defs[name]
    ]
    assert not dead, "top-level definitions named nowhere else:\n" + "\n".join(dead)
