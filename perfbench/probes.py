"""Measurement from outside the engine: process-tree CPU and memory from
``/proc``, a machine-speed calibration, Spark stage metrics from the
AppStatusStore, py4j command counts, and the benchmark-side span tracer.

Nothing here edits the engine. Layers are observed by timing calls into
their public functions (the tracer swaps module attributes for timing
wrappers while a traced op runs), by reading Spark's status store with
the UI disabled, and by counting commands on the py4j gateway client.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import subprocess
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def stat(pid: str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it are fixed
    return s[s.rfind(")") + 2 :].split()


class ProcTree:
    """The benchmark process and every descendant (the JVM, the Python
    worker daemon and its workers)."""

    def __init__(self, root: int | None = None):
        self.root = str(root or os.getpid())

    def pids(self) -> list[str]:
        children: dict[str, list[str]] = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = stat(pid)
                if st is not None:
                    children.setdefault(st[1], []).append(pid)
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """User+system CPU of the live tree, including reaped children
        (cutime/cstime), so workers that exited still count."""
        total = 0
        for pid in self.pids():
            st = stat(pid)
            if st is not None:
                total += sum(int(x) for x in st[11:15])
        return total / _TICK

    def rss_bytes(self, pids: list[str]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError):
                pass
        return total


# A fixed pure-Python loop: CPU seconds per loop measure how fast this
# machine runs code right now (other tenants of a shared host slow every
# instruction, so a run's CPU and wall times move with it).
_CALIB_LOOP = """
import time
x, d = 1, {}
t = time.process_time()
for i in range(800_000):
    x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    d[x & 0xFFFF] = i
print(time.process_time() - t)
"""


def calibrate(workers: int, rounds: int = 3) -> list[float]:
    """CPU seconds of the calibration loop, run by ``workers`` processes
    at once (as many as the engine's cores), one mean per round."""
    out = []
    for _ in range(rounds):
        procs = [
            subprocess.Popen([sys.executable, "-c", _CALIB_LOOP], stdout=subprocess.PIPE,
                             text=True)
            for _ in range(workers)
        ]
        out.append(statistics.mean(float(p.communicate()[0]) for p in procs))
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class RssSampler:
    """Background thread tracking the tree's peak resident memory."""

    def __init__(self, tree: ProcTree, interval: float = 0.05):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[str] = []
        i = 0
        while not self._stop.is_set():
            if i % 20 == 0:
                pids = self.tree.pids()
            self.peak = max(self.peak, self.tree.rss_bytes(pids))
            i += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Py4jCounter:
    """Counts commands sent over the py4j gateway by wrapping the client's
    ``send_command``; ``paused()`` hides the benchmark's own calls."""

    def __init__(self, sc):
        self.count = 0
        self._on = True
        client = sc._gateway._gateway_client
        self.call_s = self._wrapper_cost()
        orig = client.send_command

        def send_command(*args, **kwargs):
            if self._on:
                self.count += 1
            return orig(*args, **kwargs)

        client.send_command = send_command

    def _wrapper_cost(self, n: int = 200_000) -> float:
        """Seconds the counting wrapper adds to one command."""

        def orig(*args, **kwargs):
            return None

        def wrapped(*args, **kwargs):
            if self._on:
                self.count += 1
            return orig(*args, **kwargs)

        costs = []
        for fn in (orig, wrapped):
            t = time.perf_counter()
            for _ in range(n):
                fn("c")
            costs.append(time.perf_counter() - t)
        self.count = 0
        return max(0.0, costs[1] - costs[0]) / n

    @contextlib.contextmanager
    def paused(self):
        on, self._on = self._on, False
        try:
            yield
        finally:
            self._on = on


_STAGE_FIELDS = {
    "tasks": "numTasks",
    "cpu_s": "executorCpuTime",
    "run_s": "executorRunTime",
    "gc_s": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


# physical nodes that run Python workers
_PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas", "PythonUDTF", "ArrowEvalPythonUDTF")


class StatusStore:
    """Jobs finished since the last read (with their job group) and their
    stages' metrics, read through ``sc._jsc.sc().statusStore()`` (works
    with ``spark.ui.enabled=false``), and Python-island row counts from
    the SQL status store."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()
        self.seen_execs: set[int] = set()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _seq(self, s) -> list:
        it = s.iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    def new_jobs(self) -> list[dict]:
        """Jobs finished since the last call, by id: id, group, stage ids."""
        self.drain()
        store = self.jsc.statusStore()
        out = []
        for j in self._seq(store.jobsList(None)):
            jid = j.jobId()
            if jid in self.seen_jobs:
                continue
            self.seen_jobs.add(jid)
            grp = j.jobGroup()
            out.append(
                {
                    "id": jid,
                    "group": grp.get() if grp.isDefined() else None,
                    "stages": [int(s) for s in self._seq(j.stageIds())],
                }
            )
        return sorted(out, key=lambda j: j["id"])

    def stage_metrics(self, stage_ids: set[int]) -> dict[int, dict[str, float]]:
        """Metrics of the given stages, summed over their attempts. A
        stage is reported once: a shuffle stage that a later job (with
        AQE, every query stage runs as its own job) lists again, skipped,
        is left out, and so are stages that never ran."""
        stage_ids = stage_ids - self.seen_stages
        if not stage_ids:
            return {}
        store = self.jsc.statusStore()
        gw = self.spark.sparkContext._gateway
        empty = gw.new_array(self.jvm.double, 0)
        out: dict[int, dict[str, float]] = {}
        for s in self._seq(store.stageList(None, False, False, empty, None)):
            sid = s.stageId()
            if sid not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            row = out.setdefault(sid, {k: 0.0 for k in _STAGE_FIELDS})
            for k, getter in _STAGE_FIELDS.items():
                v = float(getattr(s, getter)())
                if k == "cpu_s":
                    v /= 1e9  # ns
                elif k in ("run_s", "gc_s"):
                    v /= 1e3  # ms
                row[k] += v
        self.seen_stages |= set(out)
        return out

    def python_rows(self) -> int:
        """Rows returned by Python islands (Arrow/pandas evaluation nodes:
        their SQL metric ``number of output rows``) in SQL executions
        finished since the last call."""
        self.drain()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for e in self._seq(sql.executionsList()):
            eid = e.executionId()
            if eid in self.seen_execs or e.completionTime().isEmpty():
                continue
            self.seen_execs.add(eid)
            if not any(k in e.physicalPlanDescription() for k in _PY_NODES):
                continue
            accs = [
                m.accumulatorId()
                for node in self._seq(sql.planGraph(eid).allNodes())
                if any(k in node.name() for k in _PY_NODES)
                for m in self._seq(node.metrics())
                if m.name() == "number of output rows"
            ]
            values = sql.executionMetrics(eid)
            for a in accs:
                v = values.get(a)
                if v.isDefined():
                    total += int(str(v.get()).split()[0].replace(",", ""))
        return total


class Tracer:
    """Benchmark-side spans: name, start, end, parent, op id, py4j
    commands, and the Spark job group the span ran under. Spans stay in
    memory and are written once when the run ends. ``bookkeeping`` is the
    time per op spent in the tracer itself (span records and the
    job-group calls on entering and leaving each span).

    ``span`` is a no-op unless ``active``; ``wrap(module, attr, name)``
    swaps a module attribute for a spanned wrapper so layers called from
    inside an entry point are timed without touching engine code."""

    def __init__(self, sc, py4j: Py4jCounter | None):
        self.sc = sc
        self.py4j = py4j
        self.active = False
        self.op = -1
        self.spans: list[dict] = []
        self.bookkeeping: dict[int, float] = {}  # op -> tracer's own seconds
        self._stack: list[dict] = []

    def _group(self, span: dict | None) -> None:
        with self.py4j.paused():
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        entered = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": parent["id"] if parent else None,
            "group": f"pb{self.op}.{len(self.spans)}",
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        sp["py4j"] = self.py4j.count
        sp["start"] = time.perf_counter()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            sp["py4j"] = self.py4j.count - sp["py4j"]
            self._stack.pop()
            self._group(parent)
            self.bookkeeping[self.op] = (
                self.bookkeeping.get(self.op, 0.0)
                + (sp["start"] - entered) + (time.perf_counter() - sp["end"])
            )

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
