"""The zip re-read gate of ``europe_gis_spark._worker_imports``.

Without Spark: a gated ``importlib.invalidate_caches()`` still picks up a
rewritten archive, and skips the directory read of an unchanged one.
With Spark: the gate is installed in the Python workers that run engine
UDFs, and the driver keeps the stock method."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from europe_gis_spark import _worker_imports


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zgate_one"])
    for name in ("zgate_one", "zgate_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker_imports._invalidate_if_changed
    )
    assert importlib.import_module("zgate_one").NAME == "zgate_one"

    _write_zip(archive, ["zgate_one", "zgate_two"])
    importlib.invalidate_caches()
    assert importlib.import_module("zgate_two").NAME == "zgate_two"

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importlib.invalidate_caches()
    assert archive not in reads


def test_workers_gate_and_driver_keeps_stock(spark):
    assert zipimport.zipimporter.invalidate_caches is _worker_imports._stock

    def report(batches):
        import zipimport

        for _ in batches:
            pass
        gated = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"gated": [gated is _worker_imports._invalidate_if_changed]}
        )

    rows = spark.range(4, numPartitions=2).mapInArrow(report, "gated boolean").collect()
    assert len(rows) == 2 and all(r.gated for r in rows)
    assert zipimport.zipimporter.invalidate_caches is _worker_imports._stock
