"""Benchmark of the engine, run from the root of a checkout:

    python3 perfbench/run.py --workload {batch,ann_serve} --seed N \
        --seconds S --trace {0,1}

It generates its fixture from ``--seed`` with ``tools/reseed_fixture``,
starts one engine session on ``local[<usable cores>]``, sets up the
workload several times, measures whole passes for at least ``--seconds``
seconds, checks every output, and prints as its LAST stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``: CPU seconds per pass and set-up time.  With
``--trace 1`` they are the per-layer ones, wall times among them,
from wrappers around the package's public functions (installed from
here, never inside the package) and from Spark's event log.  The line
before it records the environment: master, cores, driver memory, the
load average read before any work and the share of CPU time the host
stole during the run.  Exit code 0 means
every output was correct; 1 means a mismatch or failed operation; 2
means the program could not be found or run.  Everything the run
writes lives under ``perfbench/.work`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from layers import MB, EventLog, Tracer, median, percentile, self_time, tail_percentile  # noqa: E402


def unit(metric: str) -> str:
    """Unit of a metric, read off its name."""
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("mb", "MB"), ("_pct", "%"), ("qps", "1/s")):
        if metric.endswith(suffix):
            return u
    return "ratio" if metric.endswith(("recall_at_5", "rows_per_result")) else "count"


def _driver_mem_mb() -> int:
    """A driver heap well below physical RAM (the engine's 16g default
    exceeds small machines) and small enough to share the machine."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return int(min(3072, phys // 4))


def _environment(work: str, cores: int, trace: bool) -> dict[str, str]:
    """Process environment and session conf for a portable run: the
    executors' Python workers import the package from this checkout,
    and scratch, shuffle and spill files stay inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_mem_mb()}m"
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory either
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _install_tracer(tracer: Tracer) -> None:
    """Wrap the layers' public entry points: MLlib fits, run_parallel
    and caching.pin.  Every package module is imported first, so the
    wrappers replace each by-name import of them too."""
    from pyspark.ml.base import Estimator

    from ssafynews_data_spark import caching, parallel, registry

    registry.load_all()
    mods = [m for n, m in list(sys.modules.items())
            if m is not None and n.startswith("ssafynews_data_spark")]
    tracer.patch_attr(Estimator, "fit", "mllib.fit")
    tracer.patch_everywhere(mods, parallel.run_parallel, "parallel.run")
    tracer.patch_everywhere(mods, caching.pin, "caching.pin")


def end_to_end(ctx) -> dict[str, float]:
    return {
        "pass_cpu_s": median([ctx.pass_cpu(p) for p in range(len(ctx.passes))]),
        "setup_s": median([b - a for a, b in ctx.setups]),
    }


def per_layer(ctx, log: EventLog, tracer: Tracer, jvm_rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of the traced run.  Pass-scoped ones are per
    pass (averaged over the passes measured); ``setup.*`` and
    ``similarity.<kind>.build_s`` are per set-up repetition."""
    n_pass = max(1, len(ctx.passes))
    n_setup = max(1, len(ctx.setups))
    ops = ctx.ops
    tot = log.total(o.group for o in ops)
    setup = log.total(f"setup{i}" for i in range(len(ctx.setups)))
    self_s = sum(
        self_time((o.t0, o.t1), log.groups[o.group].job_intervals if o.group in log.groups else [])
        for o in ops
    )

    def per_pass(x: float) -> float:
        return x / n_pass

    fits, fit_s = tracer.within("mllib.fit", ctx.passes)
    pcalls, pwall = tracer.within("parallel.run", ctx.passes)
    pins, _ = tracer.within("caching.pin", ctx.passes)
    s_fits, s_fit_s = tracer.within("mllib.fit", ctx.setups)
    s_pcalls, s_pwall = tracer.within("parallel.run", ctx.setups)
    s_pins, _ = tracer.within("caching.pin", ctx.setups)
    served = [o for o in ops if o.kind]
    counted = [o for o in ops if o.rows is not None]  # batch counts rows in its first pass
    rows_out = sum(o.rows for o in counted)
    lats = [o.wall for o in ops]
    tail_p = tail_percentile(len(lats))
    measured = sum(lats)
    out = {
        "registry.build_s": per_pass(sum(o.t_built - o.t0 for o in ops)),
        "driver.self_s": per_pass(self_s),
        "catalyst.analysis_ms": per_pass(sum(o.catalyst.get("analysis", 0) for o in ops)),
        "catalyst.optimization_ms": per_pass(sum(o.catalyst.get("optimization", 0) for o in ops)),
        "catalyst.planning_ms": per_pass(sum(o.catalyst.get("planning", 0) for o in ops)),
        "scheduler.jobs": per_pass(tot.jobs),
        "scheduler.stages": per_pass(tot.stages),
        "scheduler.tasks": per_pass(tot.tasks),
        "scheduler.failed_jobs": float(log.failed_jobs),
        "executor.run_s": per_pass(tot.run_ms / 1e3),
        "executor.cpu_s": per_pass(tot.cpu_ns / 1e9),
        "executor.gc_s": per_pass(tot.gc_ms / 1e3),
        "shuffle.read_mb": per_pass(tot.shuffle_read_b / MB),
        "shuffle.write_mb": per_pass(tot.shuffle_write_b / MB),
        "spill.mb": per_pass(tot.spill_b / MB),
        "scan.input_mb": per_pass(tot.input_b / MB),
        "scan.rows_per_result": (
            log.total(o.group for o in counted).input_rows / rows_out if rows_out else 0.0
        ),
        "pyboundary.sent_mb": per_pass(tot.py_sent_b / MB),
        "pyboundary.returned_mb": per_pass(tot.py_returned_b / MB),
        "pyboundary.rows": per_pass(tot.py_rows),
        "sources.write_s": per_pass(tot.write_run_ms / 1e3),
        "sources.write_mb": per_pass(tot.output_b / MB),
        "mllib.fits": per_pass(fits),
        "mllib.fit_s": per_pass(fit_s),
        "parallel.calls": per_pass(pcalls),
        "parallel.wall_s": per_pass(pwall),
        "caching.pins": per_pass(pins),
        "setup.scheduler.jobs": setup.jobs / n_setup,
        "setup.mllib.fits": s_fits / n_setup,
        "setup.mllib.fit_s": s_fit_s / n_setup,
        "setup.parallel.calls": s_pcalls / n_setup,
        "setup.parallel.wall_s": s_pwall / n_setup,
        "setup.caching.pins": s_pins / n_setup,
        "setup.sources.write_s": setup.write_run_ms / 1e3 / n_setup,
        "setup.sources.write_mb": setup.output_b / MB / n_setup,
        "similarity.serve_plan_ms": 1000.0 * median([o.t_built - o.t0 for o in served]),
        "similarity.serve_exec_ms": 1000.0 * median([o.t1 - o.t_built for o in served]),
        "similarity.qps": sum(o.vectors for o in served) / measured if served else 0.0,
        "pass.cpu_s": median([ctx.pass_cpu(p) for p in range(len(ctx.passes))]),
        "pass.wall_s": median([ctx.pass_wall(p) for p in range(len(ctx.passes))]),
        "op.samples": float(len(lats)),
        "op.p50_ms": 1000.0 * median(lats),
        "op.tail_pct": tail_p or 0.0,
        "op.tail_ms": 1000.0 * percentile(lats, tail_p) if tail_p and lats else 0.0,
        "jvm.peak_rss_mb": jvm_rss_mb,
        "driver.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "trace.overhead_pct": 100.0 * tracer.overhead_s / measured if measured else 0.0,
    }
    for k in workloads.KINDS:
        out[f"similarity.{k}.p50_ms"] = 1000.0 * median([o.wall for o in served if o.kind == k])
        out[f"similarity.{k}.build_s"] = ctx.extra.get(f"similarity.{k}.build_s", 0.0)
    out["similarity.recall_at_5"] = ctx.extra.get("similarity.recall_at_5", 0.0)
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: on a virtual machine, steal is
    time the host ran something else, which slows every measurement."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    loadavg = os.getloadavg()  # before this run puts any load on the CPUs
    steal0, total0 = _cpu_ticks()

    if not os.path.isfile(os.path.join(ROOT, "ssafynews_data_spark", "__init__.py")):
        print(f"error: package ssafynews_data_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        conf = _environment(work, cores, bool(args.trace))
        from ssafynews_data_spark import get_session

        spark = get_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        tracer = None
        if args.trace:
            tracer = Tracer()
            _install_tracer(tracer)
        ctx = workloads.Context(spark, args.seed, args.seconds, work, tracer)
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "master": spark.sparkContext.master,
            "cores": cores,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "loadavg_before": [round(x, 2) for x in loadavg],
        }
        print(json.dumps(env), flush=True)
        try:
            workloads.WORKLOADS[args.workload](ctx)
            if args.trace:
                jvm_rss = _jvm_peak_rss_mb(spark)
        finally:
            if tracer is not None:
                tracer.close()
            _stop(spark)
        if args.trace:
            logs = os.listdir(os.path.join(work, "events"))
            log = EventLog.read(os.path.join(work, "events", logs[0]))
            metrics = per_layer(ctx, log, tracer, jvm_rss)
        else:
            metrics = end_to_end(ctx)
        for e in ctx.errors:
            print(f"MISMATCH {e}", file=sys.stderr)
        env["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
        steal1, total1 = _cpu_ticks()
        env["cpu_steal_pct"] = round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 1)
        print(json.dumps(env), flush=True)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0 if ctx.failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
