"""The engine behaves the same when its input is not a plain local path."""

import contextlib
import io

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_read_spread_sizes_input_off_the_local_filesystem(spark):
    """``queries._read_spread`` spreads a scan only above its size floor.
    The sf0.01 documents table is far below it, so a ``file://`` sf_dir
    must keep the plain scan (no round-robin exchange) and give the same
    rows as the plain path."""
    from europe_gis_spark.queries import QUERIES

    fn = QUERIES["token_stats"][0]
    uri = fn(spark, "file://" + SF)
    assert "RoundRobinPartitioning" not in _plan(uri)
    assert sorted(uri.collect()) == sorted(fn(spark, SF).collect())
