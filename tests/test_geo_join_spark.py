"""End-to-end spatial join on Spark vs brute-force numpy oracle.

SURVEY.md §5.2: shapely-free brute force over the cross product validates
the cell-bucketed join exactly; §5.3 property: result independent of
partitioning."""

import numpy as np
import pandas as pd
import pytest

from europe_gis_spark.datagen import geodata, pages as pgen
from europe_gis_spark.extract import html as hx
from europe_gis_spark.geo import geom, proj, wkb
from europe_gis_spark.operators import geo_join

N_PAGES = 1500
SEED = 42


@pytest.fixture(scope="module")
def fixture_pages():
    return pgen.pages_pandas(np.arange(N_PAGES), seed=SEED)


@pytest.fixture(scope="module")
def level3():
    ap = geodata.admin_polygons()
    return ap[ap.levl_code == 3].reset_index(drop=True)


def oracle_points(pages_pdf: pd.DataFrame) -> dict:
    """Oracle: url -> projected (x, y) from the per-row Python regexes
    (hx.extract_coords), host hint as fallback; None if unresolvable or
    not projectable."""
    hints = {r.host: (r.lat, r.lon) for r in pgen.host_city_hints().itertuples()}
    out = {}
    for row in pages_pdf.itertuples():
        got = hx.extract_coords(row.html, row.text)
        if got is None:
            got = hints.get(hx.extract_host(row.url))
        if got is None:
            out[row.url] = None
            continue
        lat, lon = got
        x, y = proj.forward(np.array([lon]), np.array([lat]))
        ok = np.isfinite(x[0]) and np.isfinite(y[0])
        out[row.url] = (float(x[0]), float(y[0])) if ok else None
    return out


def brute_force_assign(pages_pdf: pd.DataFrame, polys: pd.DataFrame) -> dict:
    """Oracle: decode every polygon, test every resolvable page point,
    LAST (table-order) valid polygon wins — rasterio MergeAlg.replace
    burn order, the same rule as the engine's default match='last'."""
    decoded = []
    for r in polys.itertuples():
        parts = wkb.polygon_parts(wkb.decode(r.geometry))
        if geom.is_valid_polygon(parts):
            decoded.append((r.nuts_id, parts))
    out = {}
    for url, pt in oracle_points(pages_pdf).items():
        hit = None
        if pt is not None:
            x, y = np.array([pt[0]]), np.array([pt[1]])
            for pid, parts in decoded:  # later burns overwrite earlier ones
                if geom.points_in_polygon(x, y, parts, boundary="include")[0]:
                    hit = pid
        out[url] = hit
    return out


def _same_xy(got, want) -> bool:
    """Arrow hands a NaN coordinate back as NULL, the oracle says None.
    The engine projects whole batches, the oracle one point at a time,
    so allow a last-bit difference (a micrometre)."""
    if got is None or want is None:
        return got is want
    return bool(np.allclose(got, want, rtol=0, atol=1e-6))


def test_spatial_join_matches_bruteforce(spark, fixture_pages, level3):
    """The flagship body (JVM-regex coordinates, host-hint fallback,
    projection, index probe) against the all-Python per-row oracle on
    the full fixture set — non-UTF8 bytes, empty html, boundary points,
    hint-fallback hosts — for the plain and the fused-metrics pass."""
    pages_df = spark.createDataFrame(fixture_pages)
    polys_df = spark.createDataFrame(level3)
    hints = pgen.host_city_hints()
    idx_bc = geo_join.build_polygon_index_bc(spark, polys_df)
    want = brute_force_assign(fixture_pages, level3)
    want_xy = oracle_points(fixture_pages)

    for metrics in (False, True):
        rows = geo_join.tag_pages(
            pages_df, idx_bc, host_hints=hints, with_metrics=metrics
        ).collect()
        assert len(rows) == N_PAGES
        got = {r.url: r.poly_id for r in rows}
        mismatches = {u: (got[u], want[u]) for u in want if got[u] != want[u]}
        assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:5]}"
        got_xy = {r.url: None if r.x is None else (r.x, r.y) for r in rows}
        bad_xy = {
            u: (got_xy[u], xy) for u, xy in want_xy.items() if not _same_xy(got_xy[u], xy)
        }
        assert not bad_xy, f"{len(bad_xy)} coordinate mismatches, e.g. {list(bad_xy.items())[:5]}"
    # sanity on the mix: some matched, some null (outside / unresolvable)
    n_hit = sum(1 for v in want.values() if v)
    assert n_hit > N_PAGES * 0.5
    assert sum(1 for v in want.values() if v is None) > N_PAGES * 0.2


def test_join_partitioning_invariance(spark, fixture_pages, level3):
    polys_df = spark.createDataFrame(level3)
    hints = pgen.host_city_hints()
    idx_bc = geo_join.build_polygon_index_bc(spark, polys_df)

    def run(nparts):
        pages_df = spark.createDataFrame(fixture_pages).repartition(nparts)
        tagged = geo_join.tag_pages(pages_df, idx_bc, host_hints=hints)
        pts = tagged.filter("x IS NOT NULL").select("url", "x", "y")
        assigned = geo_join.assign_polygons(pts.repartition(nparts), idx_bc)
        return (
            sorted((r.url, r.poly_id) for r in tagged.collect()),
            sorted((r.url, r.poly_id) for r in assigned.collect()),
        )

    assert run(2) == run(13)


def test_pages_per_region_counts(spark, fixture_pages, level3):
    pages_df = spark.createDataFrame(fixture_pages)
    polys_df = spark.createDataFrame(geodata.admin_polygons())
    counts = geo_join.pages_per_region(
        spark, pages_df, polys_df, host_hints=pgen.host_city_hints(), level=3
    ).collect()
    got = {r.nuts_id: r.n_pages for r in counts}
    want_assign = brute_force_assign(fixture_pages, level3)
    want = {}
    for v in want_assign.values():
        want[v] = want.get(v, 0) + 1
    assert got == want


def test_multi_match_overlap_counting(spark, level3):
    """match='all' emits one row per covering polygon — the G3
    border/overlap semantics: exact planar points on shared borders must
    hit ≥2 polygons (all_touched=True burn twice, raster_processor.py:
    154-188; consumed as border detect at dataset_creation.py:243-247)."""
    polys_df = spark.createDataFrame(level3)
    idx_bc = geo_join.build_polygon_index_bc(spark, polys_df)
    pts = pd.DataFrame(
        {
            "url": ["border-v", "corner-4", "interior"],
            "x": [
                geodata.AA_X0 + 10_000.0,  # level-3 vertical border
                geodata.AA_X0 + 20_000.0,  # 4-square corner
                geodata.AA_X0 + 5_000.0,
            ],
            "y": [
                geodata.AA_Y0 + 15_000.0,
                geodata.AA_Y0 + 20_000.0,
                geodata.AA_Y0 + 15_000.0,
            ],
            "cell": [0, 0, 0],
        }
    )
    resolved = spark.createDataFrame(pts)
    multi = geo_join.assign_polygons(resolved, idx_bc, match="all")
    counts = {
        r.url: r["count"]
        for r in multi.where("poly_id is not null").groupBy("url").count().collect()
    }
    assert counts["border-v"] == 2
    assert counts["corner-4"] == 4
    assert counts["interior"] == 1


def test_shuffle_pip_equals_broadcast_pip(spark, fixture_pages, level3):
    """pip_join_shuffle (no broadcast: one PolyIndex per salted
    cell-group cogroup) must assign every resolvable page to exactly the
    same polygon as the broadcast-index path — same burn order, same
    boundary rule — across the full fixture set (hot city cell, border
    points, multi-polygon regions)."""
    pages = spark.createDataFrame(fixture_pages)
    idx = geo_join.build_polygon_index_bc(spark, spark.createDataFrame(level3))
    tagged = geo_join.tag_pages(
        pages, idx, host_hints=pgen.host_city_hints()
    ).filter("x IS NOT NULL")
    pts = tagged.select("url", "x", "y")
    polys_pdf = level3.copy()
    polys_pdf["burn"] = range(len(polys_pdf))
    polys_df = spark.createDataFrame(polys_pdf)
    got = {
        r.url: r.poly_id
        for r in geo_join.pip_join_shuffle(
            pts, polys_df, keep_cols=("url",)
        ).collect()
    }
    want = {r.url: r.poly_id for r in tagged.collect()}
    assert got == want
    assert any(v is not None for v in want.values())


def test_degenerate_batches_keep_every_row_null(spark, level3):
    """Batches with no usable point — NULL or NaN x/y, pages with no
    coordinates and no host hint, zero rows — come back row for row with
    poly_id NULL through every caller of the shared batch body, the
    shuffle join included."""
    idx = geo_join.build_polygon_index_bc(spark, spark.createDataFrame(level3))
    burned = spark.createDataFrame(level3.assign(burn=range(len(level3))))
    hints = pgen.host_city_hints()
    nan = float("nan")
    pts = spark.createDataFrame(
        [("a", None, None), ("b", None, 1.0), ("c", nan, nan), ("d", 1.0, nan)],
        "url string, x double, y double",
    )
    pages = spark.createDataFrame(
        [
            ("https://nowhere.invalid/1", b"<p>no coordinates</p>", "plain text"),
            ("https://nowhere.invalid/2", b"", ""),
            ("https://nowhere.invalid/3", None, None),
        ],
        "url string, html binary, text string",
    )
    runs = [
        (pts, lambda df: geo_join.assign_polygons(df, idx, match="last")),
        (pts, lambda df: geo_join.assign_polygons(df, idx, match="all")),
        (pts, lambda df: geo_join.pip_join_shuffle(df, burned)),
        (pages, lambda df: geo_join.tag_pages(df, idx, host_hints=hints)),
        (pages, lambda df: geo_join.tag_pages(df, idx, with_metrics=True)),
    ]
    for src, run in runs:
        rows = run(src).collect()
        assert sorted(r.url for r in rows) == sorted(r.url for r in src.collect())
        assert all(r.poly_id is None for r in rows)
        assert run(src.filter("url = 'no such url'")).count() == 0

    # an empty Arrow batch straight into the batch body
    ids = np.array(idx.value.poly_ids, dtype=object)
    none = np.empty(0)
    assert len(geo_join._assign_batch(idx.value, ids, none, none)) == 0
    rows, pids = geo_join._assign_batch(idx.value, ids, none, none, match="all")
    assert len(rows) == len(pids) == 0


def test_streaming_geo_tag_equals_batch(spark, fixture_pages, level3, tmp_path):
    """The flagship geo-tag runs unchanged inside Structured Streaming
    (mapInPandas is streaming-capable; the broadcast index rides the
    closure): incremental_ingest with tag_pages as the transform must
    produce EXACTLY the batch assignments, and a second invocation must
    be a no-op (exactly-once over already-seen files)."""
    from europe_gis_spark.streaming import incremental

    src, dst, ck = str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "ck")
    pages = spark.createDataFrame(fixture_pages)
    pages.write.parquet(src)
    idx = geo_join.build_polygon_index_bc(spark, spark.createDataFrame(level3))
    hints = pgen.host_city_hints()

    incremental.incremental_ingest(
        spark,
        src,
        dst,
        ck,
        schema=pages.schema,
        transform=lambda s: geo_join.tag_pages(s, idx, host_hints=hints),
    )
    got = {r.url: r.poly_id for r in spark.read.parquet(dst).collect()}
    want = {
        r.url: r.poly_id
        for r in geo_join.tag_pages(pages, idx, host_hints=hints).collect()
    }
    assert got == want
    # drain again with no new files: nothing appended
    incremental.incremental_ingest(
        spark, src, dst, ck,
        schema=pages.schema,
        transform=lambda s: geo_join.tag_pages(s, idx, host_hints=hints),
    )
    assert spark.read.parquet(dst).count() == len(want)
