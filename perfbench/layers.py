"""Per-layer measurement for the benchmark: Spark event-log parsing,
self-time interval arithmetic, percentile choice and the tracer that
times calls into the package's public functions from outside it.

Everything here is plain Python over plain data, so ``test_layers.py`` can
check it against a small canned event log without starting Spark.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0

#: percentiles a tail may be reported at, highest first, in per-mille
#: so the rank arithmetic stays in integers
TAIL_LADDER = (999, 990, 950, 900, 750, 500)
#: a tail percentile needs at least this many samples above it
TAIL_MIN_BEYOND = 10

#: SQL metric names on the Python-worker plan nodes (ArrowEvalPython,
#: MapInPandas, FlatMapGroupsInPandas, ...)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_ROWS = "number of output rows"


# -- statistics -------------------------------------------------------------


def _rank(n: int, per_mille: int) -> int:
    """Nearest rank of a percentile: ceil(n * per_mille / 1000)."""
    return -(-n * per_mille // 1000)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``TAIL_LADDER`` with at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly beyond its rank; None
    when even the median has fewer than that beyond it (n < 20)."""
    for pm in TAIL_LADDER:
        if n - _rank(n, pm) >= TAIL_MIN_BEYOND:
            return pm / 10.0
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the sample at rank ceil(p/100 * n)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, _rank(len(s), round(p * 10)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- CPU accounting -----------------------------------------------------------


def cpu_tree_s(root: int, proc: str = "/proc") -> float:
    """User plus system CPU seconds used so far by process ``root`` and
    all its descendants, counting children already reaped.  On a
    virtual machine the kernel charges time the host gave to others to
    steal, not to any process, so this does not grow with host load the
    way wall time does."""
    tree: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat"), encoding="ascii") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        tree[int(fields[1])].append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(tree.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


# -- interval arithmetic ----------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``
    (each clipped to the window first; overlaps count once)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(wall: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part its children cover."""
    lo, hi = wall
    return (hi - lo) - covered(children, lo, hi)


# -- Spark event log ----------------------------------------------------------


def _num(v) -> float:
    """Accumulable updates appear as numbers or numeric strings."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _python_metric_ids(plan: dict, out: dict[str, set[int]]) -> None:
    """Collect accumulator ids of the Python-boundary SQL metrics in a
    sparkPlanInfo tree."""
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        for m in plan.get("metrics", []):
            if m.get("name") in (PY_SENT, PY_RETURNED, PY_ROWS):
                out[m["name"]].add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


class GroupStats:
    """Spark-side work attributed to one job group."""

    FIELDS = (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b",
        "input_rows", "output_b", "write_run_ms", "py_sent_b",
        "py_returned_b", "py_rows",
    )

    def __init__(self) -> None:
        for f in self.FIELDS:
            setattr(self, f, 0.0)
        self.job_intervals: list[tuple[float, float]] = []

    def add(self, other: "GroupStats") -> None:
        for f in self.FIELDS:
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.job_intervals.extend(other.job_intervals)


class EventLog:
    """Job, stage and task facts of one application's event log, keyed
    by the ``spark.jobGroup.id`` local property the benchmark set
    around each operation."""

    def __init__(self, lines) -> None:
        job_group: dict[int, str] = {}
        job_submit: dict[int, float] = {}
        stage_group: dict[int, str] = {}
        py_ids: dict[str, set[int]] = defaultdict(set)
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self.failed_jobs = 0
        tasks = []
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                job_submit[jid] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g = self.groups[job_group.get(jid, "")]
                g.jobs += 1
                g.job_intervals.append((job_submit.get(jid, 0.0), ev["Completion Time"] / 1000.0))
                if (ev.get("Job Result") or {}).get("Result") != "JobSucceeded":
                    self.failed_jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                self.groups[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_metric_ids(ev.get("sparkPlanInfo") or {}, py_ids)
        # tasks last: the Python metric ids of a plan may be announced by
        # an adaptive update logged after the stage's first tasks ended
        for ev in tasks:
            g = self.groups[stage_group.get(ev["Stage ID"], "")]
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_b += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            g.input_b += inp.get("Bytes Read", 0)
            g.input_rows += inp.get("Records Read", 0)
            written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            g.output_b += written
            if written:
                g.write_run_ms += m.get("Executor Run Time", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                aid = acc.get("ID")
                if aid in py_ids[PY_SENT]:
                    g.py_sent_b += _num(acc.get("Update"))
                elif aid in py_ids[PY_RETURNED]:
                    g.py_returned_b += _num(acc.get("Update"))
                elif aid in py_ids[PY_ROWS]:
                    g.py_rows += _num(acc.get("Update"))

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path, encoding="utf-8") as fh:
            return cls(fh)

    def total(self, groups) -> GroupStats:
        """Sum of the stats of every group in ``groups``."""
        out = GroupStats()
        for g in groups:
            if g in self.groups:
                out.add(self.groups[g])
        return out


# -- tracer --------------------------------------------------------------------


class Tracer:
    """Times calls into chosen functions by swapping in timing wrappers,
    and keeps the spans in memory until the run reports.

    Only the benchmark installs it, and only in a traced run; ``close``
    restores every original.  Spans are ``(layer, start, end)`` in
    ``time.time()`` seconds, so they line up with Spark's event-log
    clock.  ``overhead_s`` accumulates the time the benchmark spends in
    its own tracing code (wrappers and probes), for ``trace.overhead_pct``.
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        tracer = self

        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                with tracer._lock:
                    tracer.spans.append((layer, t0, t1))
                    tracer.overhead_s += time.time() - t1

        timed.__wrapped__ = fn
        return timed

    def patch_attr(self, owner, attr: str, layer: str) -> None:
        """Wrap ``owner.attr`` (a class or module attribute)."""
        original = getattr(owner, attr)
        setattr(owner, attr, self._wrap(layer, original))
        self._undo.append((owner, attr, original))

    def patch_everywhere(self, modules, original, layer: str) -> int:
        """Wrap every module-level binding of ``original`` (functions
        imported by name are bound in each importing module)."""
        wrapped = self._wrap(layer, original)
        n = 0
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapped)
                    self._undo.append((mod, attr, original))
                    n += 1
        return n

    def close(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    @contextmanager
    def probe(self):
        """Count a block of the benchmark's own tracing work as overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    def within(self, layer: str, windows: list[tuple[float, float]]) -> tuple[int, float]:
        """(calls, wall seconds) of ``layer`` spans that start inside any
        of ``windows``; the wall is the union, so nested or concurrent
        calls count once."""
        hits = [(a, b) for name, a, b in self.spans if name == layer
                and any(lo <= a < hi for lo, hi in windows)]
        return len(hits), sum(covered(hits, lo, hi) for lo, hi in windows)
