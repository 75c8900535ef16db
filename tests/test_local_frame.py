"""Driver-built frames enter Spark as Arrow local relations.

``session.local_frame`` must give the rows, names and types of the
``createDataFrame`` call it replaces, with no PythonRDD in the plan
(a PythonRDD stage starts a Python daemon and workers only to unpickle
rows), for empty and non-empty rows, ``array<bigint>`` and ``binary``
columns, and the pandas frames engine sites used to pass. The missing
checkpoint table and the tiler are checked the same way."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from europe_gis_spark.checkpoint import lineage
from europe_gis_spark.operators import zonal
from europe_gis_spark.session import local_frame


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


CASES = [
    ([], "unit_id long"),
    ([(0,)], "unit_id long"),
    ([(7, 0), (-3, 2)], "node long, hop int"),
    ([([1, -(1 << 63), (1 << 63) - 1],)], "__bloom_words: array<bigint>"),
    ([("a", b"\x00\x01\xff"), ("b", None)], "nuts_id string, geometry binary"),
    ([], "nuts_id string, geometry binary"),
    (
        [(1, "x", "y", 5), (2, "xy", None, 1)],
        "merge_rank INT, lft STRING, rgt STRING, pair_count BIGINT",
    ),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_list_rows_match_create_dataframe_without_python_rdd(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert _python_rdd(old)  # the call being replaced does pay the stage
    assert not _python_rdd(got)
    assert got.schema == old.schema
    assert got.collect() == old.collect()


def test_former_pandas_sites_keep_names_types_and_rows(spark):
    """The engine's driver-built pandas frames became row lists with a
    DDL schema: same columns, types and rows as the pandas call."""
    from europe_gis_spark import queries as Q

    polys = [(pid, Q._poly_wkb(v), i) for i, (pid, v) in enumerate(Q.PIP_POLYS)]
    sites = [
        (polys, Q.POLYS_SCHEMA + ", burn long", ["nuts_id", "geometry", "burn"]),
        (
            Q.ROBOTS_RULES,
            "host string, prefix string, allow boolean",
            ["host", "prefix", "allow"],
        ),
        (
            [(a, x - 1.5, y, 10.0) for a, x, y in Q.KNN_ANCHORS],
            "anchor_id string, ax double, ay double, val double",
            ["anchor_id", "ax", "ay", "val"],
        ),
    ]
    for rows, ddl, cols in sites:
        got = local_frame(spark, rows, ddl)
        old = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
        assert not _python_rdd(got)
        assert got.schema == old.schema and got.collect() == old.collect()


def test_empty_rows_where_pandas_drops_arrow(spark):
    """An EMPTY pandas frame is where createDataFrame leaves Arrow (the
    region-label mapping of an all-isolated raster used to pass one)."""
    empty = pd.DataFrame({"node": pd.Series(dtype=str), "root": pd.Series(dtype=str)})
    old = spark.createDataFrame(empty, schema="node string, root string")
    got = local_frame(spark, [], "node string, root string")
    assert _python_rdd(old) and not _python_rdd(got)
    assert got.schema == old.schema and got.collect() == []


def test_missing_checkpoint_table_is_a_local_relation(spark, tmp_path):
    absent = str(tmp_path / "absent")
    done = lineage.completed_units(spark, absent, "run")
    assert not _python_rdd(done) and done.collect() == []
    units = spark.range(3).select(F.col("id").alias("unit_id"))
    pending = lineage.pending_units(spark, units, absent, "run")
    assert not _python_rdd(pending)
    assert sorted(r.unit_id for r in pending.collect()) == [0, 1, 2]


def test_tiler_plan_runs_no_python(spark):
    cells = local_frame(
        spark,
        [("dem", 0, 1, 2.5), ("dem", 17, 3, 1.0)],
        "layer string, y int, x int, value double",
    )
    tiles = zonal.cells_to_tiles(cells, tile_w=16)
    tiles.collect()
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Pandas" not in plan, plan
    assert not _python_rdd(tiles)
