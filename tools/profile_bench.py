"""Per-query isolation profiler (optimization guide §1).

For each selected query: set a job description, time the computation
against the NOOP sink (guide §1.4 — computes every column, no sink
cost, no count()-style column pruning), repeat N times, and write the
``.explain("formatted")`` output to ``plans/<tag>/<name>_<suffix>.txt``.

Usage:
    python tools/profile_bench.py [--sf=DIR] [--reps=N] [--tag=r13]
        [--suffix=before] [--bench2] [--plans-only] [--plain] [name ...]

``--plain`` (VERDICT r13 item 6) times against a DRIVER-SHAPED session
instead of the engine's: bare ``local[8]`` builder, no engine configs —
so the run proves the wins survive the grading driver's environment
(the engine-session conf, e.g. dataFrameDebugging=off, must not be the
only thing carrying a number).  The bare session also runs without the
engine's JIT compile policy (``session.DRIVER_JIT_POLICY``): its driver
JVM compiles at the JDK defaults.

Before the first query it prints ``jvm  <-XX flags>``, the ``-XX``
input arguments of the driver JVM, so a run records the compile policy
it ran under.  Then it prints two lines per query to stdout:
``name  median  min  runs``, then
``name  threads  kind=cpu_s ...``, the JVM's CPU time over its reps
split by thread kind (``THREAD_KINDS``: JIT compiler, executor tasks,
py4j handlers, the scheduler and AQE stage threads, GC, other), read
from ``/proc/<jvm>/task/*/stat``.  That split showed the daily report's
MLlib fits spending most of their CPU in the JIT compiler threads
warming MLlib's code paths, not in tasks; run one query with
``--reps=1`` to see it cold.  After the last query, ``TOTAL  threads
kind=cpu_s ...`` sums the per-query splits.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssafynews_data_spark import get_session, registry
from ssafynews_data_spark.caching import release_pins

#: JVM thread kinds by thread-name prefix (the kernel keeps the first
#: 15 characters of a name); a thread matching none counts as "other"
THREAD_KINDS = (
    ("compiler", ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")),
    ("executor", ("Executor task l",)),
    ("py4j", ("Thread-",)),  # py4j's connection handlers are unnamed
    ("scheduler", (
        "dag-scheduler", "dispatcher-", "spark-listener", "task-result-get",
        "ResultQueryStag", "QueryStageCreat", "broadcast-excha",
    )),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
)
KIND_NAMES = tuple(k for k, _ in THREAD_KINDS) + ("other",)


def thread_kind(name: str) -> str:
    for kind, prefixes in THREAD_KINDS:
        if name.startswith(prefixes):
            return kind
    return "other"


def jvm_threads(pid: int, proc: str = "/proc") -> dict[int, tuple[str, int]]:
    """``tid -> (kind, utime + stime ticks)`` for every live thread of
    process ``pid``."""
    out = {}
    task = os.path.join(proc, str(pid), "task")
    for tid in os.listdir(task):
        try:
            with open(os.path.join(task, tid, "stat"), encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:  # the thread exited while we looked
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(tid)] = (thread_kind(name), int(fields[11]) + int(fields[12]))
    return out


def thread_split_s(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per thread kind between two ``jvm_threads`` snapshots.
    A thread that exited in between drops out: its time is in the
    process total but not in this split."""
    split = dict.fromkeys(KIND_NAMES, 0)
    for tid, (kind, ticks) in after.items():
        split[kind] += ticks - before.get(tid, (kind, 0))[1]
    return {k: v / os.sysconf("SC_CLK_TCK") for k, v in split.items()}


def total_split(splits: list[dict[str, float]]) -> dict[str, float]:
    """The per-kind sum of per-query ``thread_split_s`` results."""
    total = dict.fromkeys(KIND_NAMES, 0.0)
    for split in splits:
        for kind, s in split.items():
            total[kind] += s
    return total


def _fmt_split(split: dict[str, float]) -> str:
    return "  ".join(f"{k}={v:.2f}" for k, v in split.items())


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    tag = "r13"
    suffix = "before"
    use_bench2 = False
    plans_only = False
    plain = False
    names: list[str] = []
    for a in args:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a == "--bench2":
            use_bench2 = True
        elif a == "--plans-only":
            plans_only = True
        elif a == "--plain":
            plain = True
        else:
            names.append(a)

    qs = registry.load_all()
    if names:
        sel = {n: qs[n] for n in names}
    else:
        sel = {
            n: q
            for n, q in sorted(qs.items())
            if (q.bench2 if use_bench2 else q.bench)
        }

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(plans_dir, exist_ok=True)

    if plain:
        # the grading driver's shape: bare builder, local[8], no engine
        # configs (check_oracles --plain uses the same philosophy)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName(f"profile-{tag}-plain")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_session(app_name=f"profile-{tag}")
    # same warmup as bench.py: JVM/codegen/Arrow paths exist before timing
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(4).mapInPandas(lambda it: it, "id long").count()
    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    jvm_args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    print("jvm  " + " ".join(a for a in jvm_args if a.startswith("-XX")))

    splits = []

    for name, q in sel.items():
        # formatted plan (captured via the internal API so it lands in a file)
        df = q.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        release_pins()
        if plans_only:
            print(f"{name}  plan written")
            continue
        runs = []
        t_before = jvm_threads(jvm_pid)
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            release_pins()
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}  median={statistics.median(runs):.3f}  "
            f"min={min(runs):.3f}  runs={[round(r, 3) for r in runs]}"
        )
        splits.append(thread_split_s(t_before, jvm_threads(jvm_pid)))
        print(f"{name}  threads  {_fmt_split(splits[-1])}")
    if splits:
        print(f"TOTAL  threads  {_fmt_split(total_split(splits))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
