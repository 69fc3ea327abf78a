"""Self-test of the benchmark's measurement code, with no Spark:

    python3 perfbench/test_layers.py        (or: python3 -m pytest perfbench)

Checks the event-log parser against the canned log in
``testdata/eventlog.json``, the self-time interval arithmetic, the
percentile choice, the process-tree CPU accounting and the tracer's
wrap/restore cycle.
"""

from __future__ import annotations

import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import (  # noqa: E402
    MB, EventLog, Tracer, covered, cpu_tree_s, percentile, self_time, tail_percentile,
)


def _log() -> EventLog:
    return EventLog.read(os.path.join(HERE, "testdata", "eventlog.json"))


def test_event_log_groups_jobs_stages_tasks() -> None:
    log = _log()
    q = log.groups["p0:q"]
    assert q.jobs == 2
    assert sorted(q.job_intervals) == [(1.0, 3.0), (2.0, 5.0)]
    assert q.stages == 1  # job 1's stage 1 was skipped: never submitted
    assert q.tasks == 2
    s = log.groups["setup0"]
    assert (s.jobs, s.stages, s.tasks) == (1, 1, 1)
    assert log.failed_jobs == 1


def test_event_log_task_metrics() -> None:
    q = _log().groups["p0:q"]
    assert q.run_ms == 1000 and q.gc_ms == 30
    assert q.cpu_ns == 800_000_000
    assert q.shuffle_read_b == 2 * MB and q.shuffle_write_b == 0.5 * MB
    assert q.spill_b == 2 * MB  # disk bytes, not memory bytes
    assert (q.input_b, q.input_rows) == (2 * MB, 300)
    assert q.output_b == MB
    assert q.write_run_ms == 600  # only the task that wrote output


def test_event_log_python_boundary_metrics() -> None:
    q = _log().groups["p0:q"]
    assert q.py_sent_b == MB
    assert q.py_returned_b == 0.5 * MB  # numeric-string update
    assert q.py_rows == 10  # the scan's "number of output rows" is not a Python node's


def test_event_log_total_over_groups() -> None:
    log = _log()
    t = log.total(["p0:q", "setup0", "absent"])
    assert (t.jobs, t.tasks, t.run_ms) == (3, 3, 1050)
    assert len(t.job_intervals) == 3


def test_covered_and_self_time() -> None:
    jobs = [(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)]
    assert covered(jobs, 0.0, 10.0) == 5.0
    assert self_time((0.0, 10.0), jobs) == 5.0
    # clipping: only the parts inside the window count
    assert covered(jobs, 2.5, 7.5) == 3.0
    assert covered([(0.0, 1.0)], 2.0, 3.0) == 0.0
    # nested and identical intervals count once
    assert covered([(1.0, 4.0), (2.0, 3.0), (1.0, 4.0)], 0.0, 10.0) == 3.0
    # self time plus job time accounts for the whole wall
    wall = (0.0, 10.0)
    assert self_time(wall, jobs) + covered(jobs, *wall) == 10.0


def test_tail_percentile_choice() -> None:
    assert tail_percentile(0) is None
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10000) == 99.9


def test_percentile_nearest_rank() -> None:
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50.0) == 50.0
    assert percentile(xs, 90.0) == 90.0
    assert percentile(xs, 99.9) == 100.0
    assert percentile([3.0, 1.0, 2.0], 50.0) == 2.0
    # the chosen tail leaves at least ten samples beyond it
    for n in (20, 57, 100, 1234):
        p = tail_percentile(n)
        xs = [float(i) for i in range(n)]
        assert sum(1 for x in xs if x > percentile(xs, p)) >= 10


def test_tracer_wraps_and_restores() -> None:
    mod = types.ModuleType("fake")

    def work(x):
        return x + 1

    mod.work = work
    other = types.ModuleType("fake_importer")
    other.work = work  # bound by name in a second module
    tracer = Tracer()
    assert tracer.patch_everywhere([mod, other], work, "fake.work") == 2
    assert mod.work(1) == 2 and other.work(2) == 3
    assert [s[0] for s in tracer.spans] == ["fake.work", "fake.work"]
    lo = min(s[1] for s in tracer.spans)
    hi = max(s[2] for s in tracer.spans)
    calls, wall = tracer.within("fake.work", [(lo, hi + 1.0)])
    assert calls == 2 and 0.0 <= wall <= hi - lo
    assert tracer.within("fake.work", [(hi + 1.0, hi + 2.0)]) == (0, 0.0)
    tracer.close()
    assert mod.work is work and other.work is work


def test_cpu_tree_sums_descendants_only(tmp_path) -> None:
    def proc(pid: int, ppid: int, comm: str, utime: int, stime: int, cut: int, cst: int) -> None:
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cut), str(cst)] + ["0"] * 5
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")

    proc(10, 1, "python3", 100, 20, 5, 5)  # the driver; 10 ticks of reaped children
    proc(11, 10, "java", 300, 30, 0, 0)
    proc(12, 11, "python3 -m pyspark.daemon", 40, 10, 0, 0)  # a comm with spaces
    proc(13, 1, "other", 999, 999, 0, 0)  # not in the tree
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    tick = os.sysconf("SC_CLK_TCK")
    assert cpu_tree_s(10, str(tmp_path)) == (130 + 330 + 50) / tick
    assert cpu_tree_s(11, str(tmp_path)) == 380 / tick
    assert cpu_tree_s(99, str(tmp_path)) == 0.0


def test_reported_metrics_match_benchmark_json() -> None:
    """Each mode reports exactly the metrics BENCHMARK.json declares,
    with the declared units."""
    import json

    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    ctx = workloads.Context(spark=None, seed=0, seconds=0.0, work="")
    ctx.passes.append((0.0, 1.0))
    ctx.setups.append((0.0, 1.0))
    ctx.ops.append(workloads.Op("p0:q", 0, 0.0, 0.5, 1.0))
    for mode, got in (
        ("end_to_end", run.end_to_end(ctx)),
        ("per_layer", run.per_layer(ctx, EventLog([]), Tracer(), 0.0)),
    ):
        assert sorted(got) == sorted(m["name"] for m in spec[mode]), mode
        for m in spec[mode]:
            assert run.unit(m["name"]) == m["unit"], m["name"]


if __name__ == "__main__":
    import inspect
    import pathlib
    import tempfile

    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        if "tmp_path" in inspect.signature(t).parameters:
            with tempfile.TemporaryDirectory() as d:
                t(pathlib.Path(d))
        else:
            t()
        print(f"ok  {t.__name__}")
    print(f"{len(tests)} passed")
