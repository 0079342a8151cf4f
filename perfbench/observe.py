"""Measurement helpers: process-tree CPU and memory (PSS), the host record,
Spark's SQL status store, and spans.

Nothing here imports pyspark; the status-store reader takes a live
``SparkSession`` from the caller.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- host

def host_record() -> dict:
    """nproc, load average and cumulative CPU steal, for the run output."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # cpu  user nice system idle iowait irq softirq steal ...
    steal = int(cpu[8]) / _CLK_TCK if len(cpu) > 8 else 0.0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "steal_s": steal,
        "time": time.time(),
    }


# ------------------------------------------------------- process tree

def _stat_fields(pid: int) -> "list[str] | None":
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesised command name start at field 3
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def tree_pids(root: int) -> "list[int]":
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included
    (a worker that exits moves its time into its parent's cutime/cstime,
    so deltas of this sum stay correct across worker restarts)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime are fields 14-17 (index 11-14 here)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_pss(pids: "list[int]") -> "dict[str, int]":
    """Proportional set size of ``pids`` by command name.  PSS splits
    pages shared after fork between the sharers, so a child forked by
    the JVM (Hadoop shells out for chmod) or a Python worker forked by
    the PySpark daemon does not count its parent's memory twice, as a
    summed RSS would."""
    out: dict[str, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[comm] = out.get(comm, 0) + _pss_bytes(pid)
    return out


class MemorySampler:
    """Samples the summed PSS of a process tree while ``active`` is set.

    The sampler runs in the measured process, so it samples sparsely:
    every 0.2 s it reads PSS of the known tree pids, and it walks /proc
    for new pids only every fifth sample."""

    INTERVAL_S = 0.2
    RESCAN_EVERY = 5

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, n = [], 0
        while not self._stop.is_set():
            if self.active.is_set():
                if n % self.RESCAN_EVERY == 0:
                    pids = tree_pids(self.root)
                n += 1
                pss = tree_pss(pids)
                total = sum(pss.values())
                if total > self.peak:
                    self.peak, self.at_peak = total, pss
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------- SQL status store

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"


def parse_metric(text: str) -> float:
    """A status-store metric string as a number (bytes, seconds, count).

    Spark renders sums as ``12,772``, one-task sizes/times as
    ``658.8 KiB`` / ``421 ms``, and multi-task ones as a header line then
    ``total (min, med, max ...)``; the total is the first value."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    if len(head) == 1:
        return value
    unit = head[1]
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


class StatusStore:
    """Reads per-execution plan graphs and metrics from Spark's SQL
    status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids(self) -> "list[int]":
        execs = self._store.executionsList()
        return [int(execs.apply(i).executionId()) for i in range(execs.size())]

    def nodes(self, execution_id: int) -> "list[tuple[str, dict]]":
        """[(node name, {metric name: value})] for one execution."""
        graph = self._store.planGraph(execution_id)
        values = self._store.executionMetrics(execution_id)
        out = []
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            node = all_nodes.apply(i)
            metrics = {}
            declared = node.metrics()
            for j in range(declared.size()):
                m = declared.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            out.append((node.name(), metrics))
        return out


def _is_write(name: str) -> bool:
    return name.startswith("Execute InsertInto")


def plan_summary(store: StatusStore, execution_ids: "list[int]",
                 input_rows: int) -> dict:
    """Counts and totals over the SQL executions of one pipeline run.

    Node counts (scan, Python crossing, exchange) are those of the first
    write execution — the shape of the pipeline's plan.  Rows, bytes and
    times are totals over every execution, re-executed upstream work
    included."""
    totals = {
        "rows_scanned": 0.0, "bytes_scanned": 0.0,
        "py_bytes_sent": 0.0, "py_bytes_returned": 0.0, "py_run_s": 0.0,
        "py_worker_start_s": 0.0, "py_init_s": 0.0,
        "shuffle_bytes": 0.0, "shuffle_records": 0.0, "sort_spill_bytes": 0.0,
        "files_written": 0.0, "bytes_written": 0.0,
    }
    shape = None
    for eid in execution_ids:
        nodes = store.nodes(eid)
        counts = {"scan_ops": 0, "py_crossings": 0, "exchange_ops": 0}
        for name, m in nodes:
            if name.startswith("Scan"):
                counts["scan_ops"] += 1
                totals["rows_scanned"] += m.get("number of output rows", 0.0)
                totals["bytes_scanned"] += m.get("size of files read", 0.0)
            if PY_SENT in m:
                counts["py_crossings"] += 1
                totals["py_bytes_sent"] += m[PY_SENT]
                totals["py_bytes_returned"] += m.get(PY_RETURNED, 0.0)
                totals["py_run_s"] += m.get(PY_RUN, 0.0)
                totals["py_worker_start_s"] += m.get(PY_START, 0.0)
                totals["py_init_s"] += m.get(PY_INIT, 0.0)
            if name == "Exchange":
                counts["exchange_ops"] += 1
                totals["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
                totals["shuffle_records"] += m.get("shuffle records written", 0.0)
            if name == "Sort":
                totals["sort_spill_bytes"] += m.get("spill size", 0.0)
            if _is_write(name):
                totals["files_written"] += m.get("number of written files", 0.0)
                totals["bytes_written"] += m.get("written output", 0.0)
        if shape is None and any(_is_write(name) for name, _ in nodes):
            shape = counts
    shape = shape or {"scan_ops": 0, "py_crossings": 0, "exchange_ops": 0}
    return {
        **shape,
        "sql_executions": len(execution_ids),
        "rows_scanned_per_row": totals["rows_scanned"] / input_rows,
        **totals,
    }


# ---------------------------------------------------------------- spans

class Tracer:
    """In-memory spans: name, start, end, parent, and the SQL execution
    ids that started while the span was open."""

    def __init__(self, store: StatusStore, trace_id: str):
        self.store = store
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def by_name(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self) -> dict:
        t = self.t
        self.record = {
            "trace_id": t.trace_id,
            "span_id": len(t.spans),
            "parent": t._open[-1] if t._open else None,
            "name": self.name,
        }
        t.spans.append(self.record)
        t._open.append(self.record["span_id"])
        self._before = set(t.store.execution_ids())
        self.record["start"] = time.monotonic()
        return self.record

    def __exit__(self, *exc) -> None:
        self.record["end"] = time.monotonic()
        self.record["duration_s"] = self.record["end"] - self.record["start"]
        self.record["sql_execution_ids"] = sorted(
            set(self.t.store.execution_ids()) - self._before
        )
        self.t._open.pop()
