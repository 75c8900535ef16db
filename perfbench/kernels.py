"""Out-of-Spark microbenchmark of the geo kernels on a 10k-point batch.

The batch is the resolvable points of the workload's own pages, in
order and repeated up to 10k, so it carries the same hot-city skew the
Spark ops see. One run of ``geo.index.assign_points`` is timed;
``geo.geom.points_in_polygon`` is wrapped for that call to time its share
and to count candidate tests and hits."""

from __future__ import annotations

import statistics
import time

import numpy as np

BATCH = 10_000
MIN_TIMED_S = 1.0


def kernel_batch(pages_dir: str, hints) -> tuple[np.ndarray, np.ndarray]:
    import pandas as pd

    from . import checks, inputs

    pages = pd.concat(pd.read_parquet(f) for f in inputs.page_files(pages_dir))
    x, y = checks.resolve_points(pages, hints)
    ok = np.isfinite(x) & np.isfinite(y)
    # the workload's points, repeated in order up to BATCH when it has fewer
    return np.resize(x[ok], BATCH), np.resize(y[ok], BATCH)


def measure(idx, x: np.ndarray, y: np.ndarray, tracer=None) -> dict[str, float]:
    """assign/PIP milliseconds scaled to 10k points, candidate tests per
    resolved point, and hits per test. Repeats until ``MIN_TIMED_S``."""
    from europe_gis_spark.geo import geom
    from europe_gis_spark.geo import index as gindex

    orig = geom.points_in_polygon
    acc = {"pip_s": 0.0, "tests": 0, "hits": 0}

    def counted(px, py, parts, boundary="include", *a, **kw):
        t = time.perf_counter()
        hit = orig(px, py, parts, boundary, *a, **kw)
        acc["pip_s"] += time.perf_counter() - t
        acc["tests"] += len(px)
        acc["hits"] += int(hit.sum())
        return hit

    assign = gindex.assign_points
    if tracer is not None:
        counted = tracer.wrap(counted, "geo.geom.points_in_polygon")
        assign = tracer.wrap(assign, "geo.index.assign_points")
    times, pips = [], []
    geom.points_in_polygon = counted
    try:
        total = 0.0
        while total < MIN_TIMED_S or not times:
            acc.update(pip_s=0.0, tests=0, hits=0)
            t = time.perf_counter()
            assign(idx, x, y)
            dt = time.perf_counter() - t
            times.append(dt)
            pips.append(acc["pip_s"])
            total += dt
    finally:
        geom.points_in_polygon = orig
    scale = BATCH / max(1, len(x))
    return {
        "assign_ms_per_10k": statistics.median(times) * 1e3 * scale,
        "pip_ms_per_10k": statistics.median(pips) * 1e3 * scale,
        "cands_per_point": acc["tests"] / max(1, len(x)),
        "hit_frac": acc["hits"] / max(1, acc["tests"]),
        "repeats": len(times),
    }
