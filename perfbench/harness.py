"""Measurement plumbing shared by every workload: host noise, process-tree
memory, trace spans and Spark's own counters, all read from outside the
engine (nothing here imports or patches ``modape_spark``)."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# ---------------------------------------------------------------- host noise

def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_busy_pct(before: list[int], after: list[int]) -> tuple[float, float]:
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d[:8]), 1)
    idle = d[3] + d[4]
    return 100.0 * d[7] / total, 100.0 * (total - idle - d[7]) / total


def host_memory_bytes() -> tuple[int, int]:
    """(MemTotal, MemAvailable) from /proc/meminfo."""
    vals = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            vals[key] = int(rest.split()[0]) * 1024
    return vals["MemTotal"], vals.get("MemAvailable", vals["MemTotal"])


# ------------------------------------------------------------ process memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, each process's
    share of a page counted once (PSS): the forked Python workers share
    most of their pages with the worker daemon, so summed RSS would count
    those pages once per worker and swing with the worker count."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory (PSS) of this process and every descendant
    (the JVM and its Python workers), sampled on a daemon thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -------------------------------------------------------------------- spans

class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out once
    at the end.  Disabled, ``span`` is a bare yield."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, op=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (op is None or s["op"] == op)]

    def write(self, path: str):
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ Spark counters

_UNIT = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "h": 3600.0, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20,
         "GiB": 1 << 30, "TiB": 1 << 40}
_TOTAL = re.compile(r"(-?[\d.]+)\s*(ns|us|ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")

# sample capacity of the exponentially decaying reservoir behind Spark's
# Codahale histograms (CodegenMetrics.METRIC_COMPILATION_TIME)
CODEGEN_RESERVOIR = 1028

# MapInArrow node metrics (display names) -> benchmark counter names
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def parse_metric_total(text: str) -> float:
    """Sum value of a formatted SQL metric ("total (min, med, max ...)\\n
    1.2 s (...)" or a bare "1.2 s") in base units (seconds or bytes)."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    body = lines[-1] if lines else text
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "B", 1)


class SparkCounters:
    """Per-operation deltas of Spark's status-store counters, read through
    the JVM gateway with the UI disabled: job intervals and stage totals
    from the core status store, MapInArrow metrics from the SQL status
    store, and Janino compile time from CodegenMetrics."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.sc = spark._jsc.sc()
        self._codegen = (self.jvm.org.apache.spark.metrics.source
                         .CodegenMetrics.METRIC_COMPILATION_TIME())
        self.mark()

    def _drain(self):
        self.sc.listenerBus().waitUntilEmpty()

    def _codegen_state(self):
        snap = self._codegen.getSnapshot()
        return int(self._codegen.getCount()), float(sum(snap.getValues()))

    def _ids(self, seq, attr):
        return {int(getattr(seq.apply(i), attr)()) for i in range(seq.size())}

    def mark(self):
        self._drain()
        store = self.sc.statusStore()
        self._jobs = self._ids(store.jobsList(None), "jobId")
        self._stages = self._stage_keys(self._stage_list())
        sql = self.spark._jsparkSession.sharedState().statusStore()
        self._execs = self._ids(sql.executionsList(), "executionId")
        self._cg = self._codegen_state()

    def _stage_list(self):
        ArrayList = self.jvm.java.util.ArrayList
        empty = self.spark.sparkContext._gateway.new_array(
            self.jvm.double, 0)
        return self.sc.statusStore().stageList(
            ArrayList(), False, False, empty, ArrayList())

    @staticmethod
    def _stage_keys(seq):
        return {(int(seq.apply(i).stageId()), int(seq.apply(i).attemptId()))
                for i in range(seq.size())}

    def read(self, op_start: float, op_end: float) -> dict:
        """Counters accrued since the last mark(); re-marks."""
        self._drain()
        store = self.sc.statusStore()
        out = {"jobs": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_bytes": 0}
        for v in PYTHON_METRICS.values():
            out[v] = 0.0
        intervals = []
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if int(j.jobId()) in self._jobs:
                continue
            out["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            if (int(s.stageId()), int(s.attemptId())) in self._stages:
                continue
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_bytes"] += int(s.shuffleWriteBytes())
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            eid = int(execs.apply(i).executionId())
            if eid in self._execs:
                continue
            self._python_metrics(sql, eid, out)
        n_cg, sum_cg = self._codegen_state()
        out["codegen_count"] = n_cg - self._cg[0]
        # the histogram's snapshot sums its samples exactly only until the
        # reservoir is full; past that, old samples are evicted and the
        # difference is meaningless
        out["codegen_ms"] = (sum_cg - self._cg[1]
                             if n_cg < CODEGEN_RESERVOIR else None)
        out["job_wall_s"] = _union_length(intervals, op_start, op_end)
        self.mark()
        return out

    def _python_metrics(self, sql, eid, out):
        graph = sql.planGraph(eid)
        wanted = {}
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = PYTHON_METRICS.get(m.name())
                if key:
                    wanted[int(m.accumulatorId())] = key
        if not wanted:
            return
        values = sql.executionMetrics(eid)
        for acc, key in wanted.items():
            opt = values.get(acc)
            if opt.isDefined():
                out[key] += parse_metric_total(str(opt.get()))


def _union_length(intervals, lo, hi) -> float:
    """Wall seconds inside [lo, hi] covered by at least one interval
    (epoch seconds)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
