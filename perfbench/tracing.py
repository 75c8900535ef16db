"""Out-of-program tracing for the traced run.

Spans are recorded from the benchmark's side, around the calls it makes
into each layer's public functions; nothing here runs inside
``europe_gis_spark``. Spans stay in memory and are written to a sidecar
JSON-lines file when the run ends. Spark's own numbers come from its
public surfaces: ``statusTracker`` per job group, and the SQL metrics of
the final adaptive plan of the DataFrame an op returns.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a traced wrapper; returns an undo."""
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(orig, name))
        return lambda: setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, i: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[i]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == i
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s, "self": self.self_time(i)}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.i = len(t.spans)
        t.spans.append(
            {
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "op": t.op_id,
            }
        )
        t._stack.append(self.i)
        return self

    def __exit__(self, *exc):
        self.t.spans[self.i]["end"] = time.perf_counter()
        self.t._stack.pop()
        return False


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran for one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si is not None else 0
    return len(jobs), stages, tasks


_STAGE_NODES = ("ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage", "ResultQueryStage")


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(df) -> list:
    """Every node of the final plan, descending into AQE query stages."""
    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    out, todo = [], [root]
    while todo:
        n = todo.pop()
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(n.executedPlan())
            continue
        if name.startswith(_STAGE_NODES):
            todo.append(n.plan())
            continue
        if name == "ReusedExchange":
            continue  # its numbers sit on the exchange it reuses
        out.append(n)
        todo.extend(_seq(n.children()))
    return out


def _metric_value(m) -> float:
    """A SQL metric in base units: seconds for timings, bytes for sizes."""
    v = float(m.value())
    kind = m.metricType()
    if kind == "nsTiming":
        return v / 1e9
    if kind == "timing":
        return v / 1e3
    return v


def plan_metrics(df) -> dict[str, float]:
    """Per-op layer numbers from the final AQE plan of ``df``."""
    out = {
        "python_total_s": 0.0,
        "python_boot_s": 0.0,
        "arrow_sent_b": 0.0,
        "arrow_recv_b": 0.0,
        "scan_s": 0.0,
        "shuffle_b": 0.0,
        "shuffle_records": 0.0,
        "spill_b": 0.0,
        "round_robin_exchanges": 0.0,
    }
    for n in plan_nodes(df):
        name = n.nodeName()
        ms = {}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = _metric_value(kv._2())
        if "pythonTotalTime" in ms or "pythonDataSent" in ms:
            out["python_total_s"] += ms.get("pythonTotalTime", 0.0)
            out["python_boot_s"] += ms.get("pythonBootTime", 0.0)
            out["arrow_sent_b"] += ms.get("pythonDataSent", 0.0)
            out["arrow_recv_b"] += ms.get("pythonDataReceived", 0.0)
        if "Scan" in name:
            out["scan_s"] += ms.get("scanTime", 0.0)
        if "Exchange" in name:
            out["shuffle_b"] += ms.get("dataSize", 0.0)
            out["shuffle_records"] += ms.get("shuffleRecordsWritten", 0.0)
            if "RoundRobinPartitioning" in n.outputPartitioning().toString():
                out["round_robin_exchanges"] += 1
        out["spill_b"] += ms.get("spillSize", 0.0)
    return out


def _status_kb(pid: int, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def memory_hwm_mb(jvm_pid: int) -> dict[str, float]:
    """Kernel high-water marks (VmHWM): driver JVM, this Python driver,
    and the Python workers the JVM forked."""
    workers = [p for p in descendants(jvm_pid) if _status_kb(p, "VmHWM") > 0]
    return {
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
        "py_driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
        "py_workers": sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0,
    }


def steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over CPUs, from
    ``/proc/stat``: a rise during a window marks a noisy-neighbour run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return float(fields[8]) / os.sysconf("SC_CLK_TCK")
