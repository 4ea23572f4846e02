"""Measurement helpers that observe the engine from outside.

Nothing here touches the package's code: spans are opened around the
benchmark's own calls (or around public functions the benchmark wraps for
the length of a traced cycle), Spark numbers come from diffing the
driver's status stores around a phase, and memory comes from /proc.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end.

    ``enabled=False`` makes ``span`` a plain timer so untraced cycles pay
    nothing beyond ``perf_counter`` calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` by a spanned call until ``unwrap_all``.
        ``on_result(span, args, kwargs, result)`` may annotate the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, args, kwargs, out)
            return out

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _matching(self, name, since, until, match):
        return (s for s in self.spans[since:until] if s["name"] == name
                and all(s.get(k) == v for k, v in match.items()))

    def total(self, name: str, since: int = 0, until: int | None = None,
              **match) -> float:
        """Summed duration of the spans called ``name`` among
        ``spans[since:until]`` whose attributes include ``match``."""
        return sum(s["end"] - s["start"]
                   for s in self._matching(name, since, until, match))

    def count(self, name: str, since: int = 0, until: int | None = None,
              **match) -> int:
        return sum(1 for _ in self._matching(name, since, until, match))

    def self_times(self) -> list[dict]:
        """Each span with ``self_s``: its duration minus the time its
        direct children cover (children run on the same thread, so they
        never overlap one another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            out.append({**s, "dur_s": d, "self_s": d - child[i]})
        return out


# ------------------------------------------------------------ spark stores
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric ("12.0 MiB", "345 ms",
    "total (min, med, max ...)\\n1.2 s (...)") in bytes or seconds."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    if len(parts) != 2:
        return float(parts[0].replace(",", "")) if parts else 0.0
    value, unit = float(parts[0].replace(",", "")), parts[1]
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkProbe:
    """Diffs of the AppStatusStore (stages, tasks) and the SQL status
    store (mapInPandas Arrow metrics) around a phase."""

    PY_SENT = "data sent to Python workers"
    PY_RECV = "data returned from Python workers"
    PY_TIME = "time to run Python workers"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm = self.sc._jvm

    def _stages(self):
        jvm = self.jvm
        seq = self.store.stageList(jvm.java.util.ArrayList(), False, False,
                                   self.sc._gateway.new_array(jvm.double, 0),
                                   jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self):
        seq = self.sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> dict:
        self.bus.waitUntilEmpty()
        jobs = self.sc.statusTracker().getJobIdsForGroup() or [-1]
        stages = [s.stageId() for s in self._stages()] or [-1]
        execs = [e.executionId() for e in self._executions()] or [-1]
        return {"job": max(jobs), "stage": max(stages), "exec": max(execs)}

    def diff(self, mark: dict) -> dict:
        """Spark work done since ``mark``."""
        self.bus.waitUntilEmpty()
        jobs = [j for j in self.sc.statusTracker().getJobIdsForGroup()
                if j > mark["job"]]
        run_ms = cpu_ns = gc_ms = rd = wr = spill = tasks = 0
        n_stages = 0
        heaviest = None
        for s in self._stages():
            if s.stageId() <= mark["stage"] or str(s.status()) == "SKIPPED":
                continue
            n_stages += 1
            run_ms += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
            gc_ms += s.jvmGcTime()
            rd += s.shuffleReadBytes()
            wr += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tasks += s.numCompleteTasks()
            if heaviest is None or s.executorRunTime() > heaviest[0]:
                heaviest = (s.executorRunTime(), s.stageId(), s.attemptId())
        skew = 1.0
        if heaviest is not None:
            q = self.sc._gateway.new_array(self.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = self.store.taskSummary(heaviest[1], heaviest[2], q)
            if summary.isDefined():
                dur = summary.get().duration()
                med, mx = dur.apply(0), dur.apply(1)
                skew = mx / med if med > 0 else 1.0
        sent = recv = py_s = 0.0
        for e in self._executions():
            eid = e.executionId()
            if eid <= mark["exec"]:
                continue
            values = self.sql.executionMetrics(eid)
            metrics = e.metrics()
            seen = set()  # adaptive re-plans list a node's metric again
            for i in range(metrics.size()):
                m = metrics.apply(i)
                name, acc = m.name(), m.accumulatorId()
                if (name not in (self.PY_SENT, self.PY_RECV, self.PY_TIME)
                        or acc in seen):
                    continue
                seen.add(acc)
                v = values.get(acc)
                if not v.isDefined():
                    continue
                x = parse_sql_metric(v.get())
                if name == self.PY_SENT:
                    sent += x
                elif name == self.PY_RECV:
                    recv += x
                else:
                    py_s += x
        mb = 1e6
        return {"run_s": run_ms / 1e3, "cpu_s": cpu_ns / 1e9,
                "gc_s": gc_ms / 1e3, "shuffle_read_mb": rd / mb,
                "shuffle_write_mb": wr / mb, "spill_mb": spill / mb,
                "jobs": len(jobs), "stages": n_stages, "tasks": tasks,
                "task_max_over_median": skew,
                "arrow_to_python_mb": sent / mb,
                "arrow_from_python_mb": recv / mb,
                "arrow_python_udf_s": py_s}


# -------------------------------------------------------------- memory
def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes (forked Python workers share their parent's) counted 1/n."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


_TICK = os.sysconf("SC_CLK_TCK")


def spark_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process's
    descendants — the driver JVM and its Python workers, exited workers
    included through their parents.  The benchmark's own process is left
    out: it only drives the JVM and samples /proc."""
    children = _children()
    total, stack = 0, list(children.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(children.get(pid, ()))
    return total / _TICK


def _tree_pss_bytes(root: int) -> int:
    children = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory (as PSS) of this process and all its
    descendants — the driver JVM and its Python workers — sampled on a
    background thread."""

    period_s = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
