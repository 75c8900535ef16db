"""Fast self-check of the benchmark at tiny sizes, and the recording of the
query mix's output hashes.

``main`` runs every workload small, untraced and traced, and fails unless
every metric prints with its unit and a finite value, a deliberately
perturbed op counts as a failed op on each workload, and the pages the
benchmark writes hold exactly the rows ``datagen.pages.write_pages``
writes. ``record_hashes`` checks each mix query against its DuckDB oracle
and only then records its output hash in ``mix_hashes.json``.
"""

from __future__ import annotations

import json
import math
import os
import time

from . import checks, inputs, run, workloads

SMALL_MIX = ("dedup_exact", "bpe_merges")


def _small(name: str):
    if name == "query_mix":
        return workloads.MixWorkload(SMALL_MIX)
    return workloads.GeoWorkload(pages=400, files=2, lau_depth=1)


def _metrics_ok(out: dict, units: dict) -> list[str]:
    bad = []
    for k, unit in units.items():
        m = out["metrics"].get(k)
        if m is None or m.get("unit") != unit or not math.isfinite(m.get("value", math.nan)):
            bad.append(k)
    return bad


def _pages_match_spark_writer(work: str, nproc: int) -> bool:
    from europe_gis_spark.datagen import pages as pgen

    ours = inputs.write_pages(inputs.input_dir(work, "pages", 5, 600), 5, 600, files=3)
    spark = run.start_spark(work, nproc)
    try:
        theirs = os.path.join(work, "tmp", "write_pages_600")
        pgen.write_pages(spark, 600, theirs, seed=5, partitions=3)
        a = sorted(map(tuple, spark.read.parquet(ours).collect()))
        b = sorted(map(tuple, spark.read.parquet(theirs).collect()))
    finally:
        run.stop_spark(spark)
    return a == b


def _declared_matches(root: str) -> list[str]:
    """BENCHMARK.json declares exactly the workloads and metric units run.py
    prints."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        decl = json.load(f)
    problems = []
    if [w["name"] for w in decl["workloads"]] != list(workloads.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    for key, units in (("end_to_end", run.END_TO_END_UNITS), ("per_layer", run._per_layer_units())):  # noqa: SLF001
        if {m["name"]: m["unit"] for m in decl[key]} != units:
            problems.append(f"BENCHMARK.json {key} differs from what run.py prints")
    return problems


def main(work: str, nproc: int) -> int:
    t0 = time.perf_counter()
    problems = _declared_matches(os.path.dirname(work))
    for name in workloads.WORKLOADS:
        for trace in (False, True):
            wl = _small(name)
            units = run._per_layer_units() if trace else run.END_TO_END_UNITS  # noqa: SLF001
            out = run.run(wl, 3, 1.0, trace, work, nproc)
            print(json.dumps({"workload": name, "trace": int(trace), **out}), flush=True)
            bad = _metrics_ok(out, units)
            if bad:
                problems.append(f"{name} trace={int(trace)}: missing or non-finite {bad}")
            if not out["correct"] or out["failed"]:
                problems.append(f"{name} trace={int(trace)}: unperturbed run not correct")
        wl = _small(name)
        wl.perturb_op = 0  # the first timed op: every workload makes one
        out = run.run(wl, 3, 1.0, False, work, nproc)
        frac = out["metrics"]["ok_ops_frac"]["value"]
        if out["failed"] != 1 or out["correct"] or not frac < 1.0:
            problems.append(f"{name}: perturbed op not counted as failed ({out})")
    if not _pages_match_spark_writer(work, nproc):
        problems.append("pages written by the benchmark differ from write_pages")
    summary = {"selfcheck": "ok" if not problems else "failed", "problems": problems,
               "seconds": round(time.perf_counter() - t0, 1)}
    print(json.dumps(summary), flush=True)
    return 0 if not problems else 1


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _same(a, b) -> bool:
    import pandas as pd

    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            both_null = False
            try:
                both_null = bool(pd.isna(x) and pd.isna(y))
            except (TypeError, ValueError):
                pass
            if not both_null and x != y:
                return False
    return True


def record_hashes(work: str, nproc: int) -> int:
    """Run each mix query once, compare it with its DuckDB oracle, and
    record its output hash only if they agree."""
    import duckdb

    wl = workloads.MixWorkload()
    run.prepare(wl, work, 0)
    from europe_gis_spark.queries import QUERIES

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wl.dir}/{t}.parquet')")
    spark = run.start_spark(work, nproc)
    hashes, rows, bad = {}, {}, []
    try:
        for name in wl.queries:
            fn, sql = QUERIES[name]
            df = fn(spark, wl.dir)
            got = df.collect()
            want = con.sql(sql).df()
            if not _same(_canon(df.toPandas()), _canon(want)):
                bad.append(name)
            hashes[name] = checks.rows_hash(df.columns, got)
            rows[name] = len(got)
            print(f"{name}: {len(got)} rows, oracle {'ok' if name not in bad else 'MISMATCH'}", flush=True)
    finally:
        run.stop_spark(spark)
    if bad:
        print(json.dumps({"record_hashes": "failed", "oracle_mismatch": bad}))
        return 1
    with open(workloads.MIX_HASHES, "w") as f:
        json.dump({"tables": wl.table_rows, "rows": rows, "hashes": hashes}, f, indent=1)
        f.write("\n")
    print(json.dumps({"record_hashes": "ok", "queries": len(hashes)}))
    return 0
