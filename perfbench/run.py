"""Same-box benchmark of europe_gis_spark: LAU geo-tag and a Spark query
mix, closed loop, one client, ``local[nproc]``.

Run from the repository root:

    python3 perfbench/run.py --workload lau_geotag --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck          # tiny sizes, proves the checks fire
    python3 perfbench/run.py --record-hashes      # re-record the query mix's hashes

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Inputs, Spark scratch space and trace sidecars go to ``.perfbench/``
under the repository root. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time

WORK = ".perfbench"

#: op_s_tail percentile. A run makes about 5 LAU and 6 mix ops, too few
#: for ten ops beyond any percentile; the count beyond is logged
TAIL_PCT = 90

END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "ops_per_s": "1/s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "frac",
}


def _per_layer_units() -> dict[str, str]:
    from perfbench.workloads import MIX_QUERIES

    units = {
        "session.start_s": "s",
        "geo_join.index_build_s": "s",
        "geo.index.bytes": "B",
        "geo.index.cells": "count",
        "geo.index.cands_per_point": "count",
        "geo.index.hit_frac": "frac",
        "geo.index.assign_ms_per_10k": "ms",
        "geo.geom.pip_ms_per_10k": "ms",
        "geo_join.python_s_per_op": "s",
        "geo_join.python_boot_s": "s",
        "geo_join.arrow_mb_sent_per_op": "MB",
        "geo_join.arrow_mb_recv_per_op": "MB",
        "spark.scan_s_per_op": "s",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.shuffle_mb_per_op": "MB",
        "spark.shuffle_records_per_op": "count",
        "spark.spill_mb_per_op": "MB",
        "spark.round_robin_exchanges_per_op": "count",
    }
    for q in MIX_QUERIES:
        units[f"queries.{q}.s"] = "s"
        units[f"queries.{q}.jobs"] = "count"
    units.update(
        {
            "mem.jvm_hwm_mb": "MB",
            "mem.py_driver_hwm_mb": "MB",
            "mem.py_workers_hwm_mb": "MB",
            "trace.overhead_frac": "frac",
        }
    )
    return units


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f} s]: {msg}", file=sys.stderr, flush=True)


def configure(root: str) -> tuple[str, int]:
    """Keep every file the run writes inside ``root/.perfbench`` and make
    the engine importable by Spark's Python workers."""
    work = os.path.join(root, WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    tempfile.tempdir = tmp
    return work, nproc


def spark_conf(work: str) -> dict[str, str]:
    """Locations and console output only: scratch, warehouse and JVM temp
    files stay in ``work``."""
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(work: str, nproc: int):
    from europe_gis_spark import session

    spark = session.get_spark(
        app_name="perfbench", master=f"local[{nproc}]", extra_conf=spark_conf(work)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    from perfbench import tracing

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    kids = tracing.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


class Window:
    """Latencies, outcomes and input rows of a run of timed ops."""

    def __init__(self) -> None:
        self.lat: list[float] = []
        self.ok = self.failed = self.rows = 0
        self.elapsed = 0.0

    def run_op(self, wl, spark, probe=None) -> None:
        t = time.perf_counter()
        op = wl.op(spark) if probe is None else probe(wl, spark)
        dt = time.perf_counter() - t
        self.elapsed += dt
        if op.ok:
            self.ok += 1
            self.rows += op.rows_in
            self.lat.append(dt)
        else:
            self.failed += 1
            self.lat.append(math.inf)


def timed_window(wl, spark, seconds: float) -> Window:
    """Closed loop: ops until ``seconds`` have passed and a pass is complete."""
    w = Window()
    while w.elapsed < seconds or not wl.at_boundary():
        w.run_op(wl, spark)
    return w


def alternating_windows(wl, spark, seconds: float, probe) -> tuple[Window, Window]:
    """Untraced and traced ops, alternating until each side has run for
    ``seconds``, a pass is complete and every query has run as often on
    one side as on the other, so warm-up drift falls on both sides alike.
    The alternation is per query on the mix, so each query runs on both
    sides whatever the seeded order, and every other query starts on the
    traced side, so neither side always runs warmer."""
    plain, traced = Window(), Window()
    seen: dict[str, list[int]] = {}  # name -> [first-seen rank, runs]

    def balanced() -> bool:
        return bool(seen) and all(runs % 2 == 0 for _, runs in seen.values())

    while min(plain.elapsed, traced.elapsed) < seconds or not wl.at_boundary() or not balanced():
        name = wl.peek() if hasattr(wl, "peek") else ""
        rank_runs = seen.setdefault(name, [len(seen), 0])
        rank_runs[1] += 1
        if sum(rank_runs) % 2:
            plain.run_op(wl, spark)
        else:
            traced.run_op(wl, spark, probe)
    return plain, traced


def rates(w: Window) -> tuple[float, float]:
    return w.rows / w.elapsed, w.ok / w.elapsed


def latency(w: Window, pct: float | None = None) -> float:
    """The median (``pct`` None) or a nearest-rank percentile of op
    latency. A failed op misses every latency limit: it ranks last, and a
    figure landing on one reads as the whole window."""
    v = statistics.median(w.lat) if pct is None else percentile(w.lat, pct)
    return w.elapsed if math.isinf(v) else v


def prepare(wl, work: str, seed: int) -> None:
    t = time.perf_counter()
    if wl.name == "query_mix":
        wl.prepare(work, seed)
        # the queries module builds some oracle SQL at import time from
        # this directory: point it at the benchmark's own mix tables, and
        # import it here, outside setup_s
        os.environ["SPARK_GRAFT_SF_CORRECT"] = wl.dir
        import europe_gis_spark.queries  # noqa: F401
    else:
        wl.prepare(work, seed)
    log(f"{wl.name}: inputs ready in {time.perf_counter() - t:.2f} s")


def run(wl, seed: int, seconds: float, trace: bool, work: str, nproc: int) -> dict:
    from perfbench import tracing

    workload = wl.name
    prepare(wl, work, seed)
    if trace:
        return run_traced(wl, seed, seconds, work, nproc)

    t0 = time.perf_counter()
    spark = start_spark(work, nproc)
    try:
        wl.setup(spark)
        warm = wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        match = wl.oracle(spark)
        log(f"{workload}: setup {setup_s:.3f} s, oracle match {match}, sizes {wl.sizes()}")
        steal0 = tracing.steal_s()
        w = timed_window(wl, spark, seconds)
        steal = tracing.steal_s() - steal0
        mem = _memory(spark)
    finally:
        stop_spark(spark)
    rows_s, ops_s = rates(w)
    pct = TAIL_PCT
    beyond = sum(1 for x in w.lat if x > percentile(w.lat, pct))
    log(f"{workload}: {len(w.lat)} ops in {w.elapsed:.2f} s; p{pct} has {beyond} ops beyond it; "
        f"CPU steal {steal:.2f} s; "
        f"VmHWM MB {({k: round(v) for k, v in mem.items()})}; op s {[round(x, 3) for x in w.lat]}")
    values = {
        "setup_s": setup_s,
        "rows_per_s": rows_s,
        "ops_per_s": ops_s,
        "op_s_p50": latency(w),
        "op_s_tail": latency(w, pct),
        # the Python side only: the driver JVM's VmHWM follows G1's heap
        # sizing from run to run (1.6-3.7 GB on the same op), so it is
        # reported per layer as mem.jvm_hwm_mb instead
        "peak_rss_mb": mem["py_driver"] + mem["py_workers"],
        "ok_ops_frac": w.ok / len(w.lat),
    }
    correct = warm.ok and match == 1.0 and w.failed == 0
    return _result(correct, len(w.lat), w.failed, values, END_TO_END_UNITS)


def _memory(spark) -> dict[str, float]:
    from perfbench import tracing

    return tracing.memory_hwm_mb(spark.sparkContext._gateway.proc.pid)  # noqa: SLF001


def _result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def run_traced(wl, seed: int, seconds: float, work: str, nproc: int) -> dict:
    """Set-up, then untraced and traced ops alternating for ``seconds``
    each: spans, job groups and plan metrics on the traced side, and the
    tracing overhead from the two sides' rates."""
    from europe_gis_spark import session
    from europe_gis_spark.operators import geo_join

    from perfbench import kernels, tracing

    tr = tracing.Tracer()
    undo = [
        tr.patch(session, "get_spark", "session.get_spark"),
        tr.patch(geo_join, "build_polygon_index_bc", "geo_join.build_polygon_index_bc"),
    ]
    spark = None
    try:
        with tr.span("setup"):
            spark = start_spark(work, nproc)
            wl.setup(spark)
            sc = spark.sparkContext
            sc.setJobGroup("pb-warmup", "perfbench warm-up op")
            with tr.span("warmup"):
                warm = wl.warmup(spark)
    except BaseException:
        if spark is not None:
            stop_spark(spark)
        raise
    finally:
        for u in undo:
            u()
    per_op: list[dict] = []

    def probe(wl_, spark_):
        i = len(per_op)
        tr.op_id = i
        sc.setJobGroup(f"pb-op{i}", "perfbench op")
        with tr.span("op") as sp:
            op = wl_.op(spark_, tr)
        span = tr.spans[sp.i]
        rec = {"name": op.name, "s": span["end"] - span["start"]}
        rec["jobs"], rec["stages"], rec["tasks"] = tracing.group_counts(sc, f"pb-op{i}")
        if op.df is not None:
            rec.update(tracing.plan_metrics(op.df))
        per_op.append(rec)
        tr.op_id = None
        return op

    try:
        match = wl.oracle(spark)
        warm_plan = tracing.plan_metrics(warm.df) if warm.df is not None else {}
        plain, traced = alternating_windows(wl, spark, seconds, probe)
        kern = {}
        if hasattr(wl, "idx_bc"):
            x, y = kernels.kernel_batch(wl.pages_dir, wl.hints)
            with tr.span("kernels"):
                kern = kernels.measure(wl.idx_bc.value, x, y, tr)
        mem = _memory(spark)
    finally:
        stop_spark(spark)
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    sidecar = os.path.join(work, "traces", f"{wl.name}_s{seed}.jsonl")
    tr.write(sidecar)
    log(f"{wl.name}: {len(tr.spans)} spans written to {sidecar}")

    values = _layer_values(wl, tr, per_op, warm_plan, kern, mem, plain, traced)
    attempted = len(plain.lat) + len(traced.lat)
    failed = plain.failed + traced.failed
    correct = warm.ok and match == 1.0 and failed == 0
    return _result(correct, attempted, failed, values, _per_layer_units())


def _mean(per_op: list[dict], key: str) -> float:
    vals = [r.get(key, 0.0) for r in per_op]
    return sum(vals) / len(vals) if vals else 0.0


def _layer_values(wl, tr, per_op, warm_plan, kern, mem, plain, traced) -> dict:
    import pickle

    from perfbench.workloads import MIX_QUERIES

    mb = 1024.0 * 1024.0
    geo = hasattr(wl, "idx_bc")
    v = {
        "session.start_s": sum(tr.durations("session.get_spark")),
        "geo_join.index_build_s": sum(tr.durations("geo_join.build_polygon_index_bc")),
        "geo.index.bytes": len(pickle.dumps(wl.idx_bc.value)) if geo else 0,
        "geo.index.cells": wl.idx_bc.value.n_cells() if geo else 0,
        "geo.index.cands_per_point": kern.get("cands_per_point", 0.0),
        "geo.index.hit_frac": kern.get("hit_frac", 0.0),
        "geo.index.assign_ms_per_10k": kern.get("assign_ms_per_10k", 0.0),
        "geo.geom.pip_ms_per_10k": kern.get("pip_ms_per_10k", 0.0),
        "geo_join.python_s_per_op": _mean(per_op, "python_total_s") if geo else 0.0,
        "geo_join.python_boot_s": warm_plan.get("python_boot_s", 0.0) if geo else 0.0,
        "geo_join.arrow_mb_sent_per_op": _mean(per_op, "arrow_sent_b") / mb if geo else 0.0,
        "geo_join.arrow_mb_recv_per_op": _mean(per_op, "arrow_recv_b") / mb if geo else 0.0,
        "spark.scan_s_per_op": _mean(per_op, "scan_s"),
        "spark.jobs_per_op": _mean(per_op, "jobs"),
        "spark.stages_per_op": _mean(per_op, "stages"),
        "spark.tasks_per_op": _mean(per_op, "tasks"),
        "spark.shuffle_mb_per_op": _mean(per_op, "shuffle_b") / mb,
        "spark.shuffle_records_per_op": _mean(per_op, "shuffle_records"),
        "spark.spill_mb_per_op": _mean(per_op, "spill_b") / mb,
        "spark.round_robin_exchanges_per_op": _mean(per_op, "round_robin_exchanges"),
        "mem.jvm_hwm_mb": mem["jvm"],
        "mem.py_driver_hwm_mb": mem["py_driver"],
        "mem.py_workers_hwm_mb": mem["py_workers"],
    }
    for q in MIX_QUERIES:
        recs = [r for r in per_op if r["name"] == q]
        v[f"queries.{q}.s"] = statistics.median([r["s"] for r in recs]) if recs else 0.0
        v[f"queries.{q}.jobs"] = statistics.median([r["jobs"] for r in recs]) if recs else 0.0
    # rows/s on the geo workloads, queries/s on the mix
    k = 0 if geo else 1
    v["trace.overhead_frac"] = 1.0 - rates(traced)[k] / rates(plain)[k]
    return v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record-hashes", action="store_true")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "europe_gis_spark", "__init__.py")):
        log("no europe_gis_spark/ package here: run from the repository root")
        return 2
    sys.path[:0] = [root]
    work, nproc = configure(root)

    if args.selfcheck or args.record_hashes:
        from perfbench import selfcheck

        return selfcheck.record_hashes(work, nproc) if args.record_hashes else selfcheck.main(work, nproc)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
        return 2
    wl = workloads.make(args.workload)
    out = run(wl, args.seed, args.seconds, bool(args.trace), work, nproc)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
