"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries (``bench=True`` in the registry) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Stdout carries EXACTLY that one line and nothing else (VERDICT r6 item
2: the round-6 line grew past the driver's tail-capture window and
``BENCH_r06.json`` recorded ``parsed: null``).  The per-query medians
stay in ``queries`` — they are the round-over-round comparison surface —
but everything else (minima, repeats, loadavg, secondary-SF pass) moves
to a sidecar ``BENCH_detail.json`` next to this script and to stderr.

Each query is timed end-to-end (plan + execute + collect-to-count) after
one untimed warmup of the session (JVM/codegen warmup is not what we're
measuring; per-query JIT still counts).

Variance control (VERDICT r5 item 2): the machine is co-tenant and
single-run numbers swung ~1.4x on unchanged code round-over-round, so
each primary-SF query now runs REPEATS times (default 3) and the
headline number is the SUM OF MEDIANS; per-query medians, minima, and
``os.getloadavg()`` before/after are all in the JSON so a drifted
median with a stable min reads as co-tenancy, not regression.

Two series (VERDICT r12 item 4): ``queries``/``value`` is the headline
22, FROZEN since the early rounds so the round-over-round comparison
holds; ``queries2``/``value2`` is the second-tier serving + curation
set (``bench2=True`` in the registry — the r9+ ANN serving contracts
and the r12/r13 curation operators), wall-time-tracked single-run and
never summed into ``value``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from ssafynews_data_spark import get_session, registry

    spark = get_session(app_name="ssafynews-bench")
    qs = registry.load_all()
    bench = {n: q.fn for n, q in sorted(qs.items()) if q.bench}

    # Session warmup: tiny jobs so executor threads, codegen and the
    # Arrow/pandas path exist before the first timed query (JVM
    # cold-start is a constant, not a property of any query).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(16).toPandas()
    # spin up the executor-side Python worker pool (mapInPandas /
    # grouped-map queries otherwise pay interpreter+Arrow startup in
    # their first timed run — an environment constant, not query cost)
    spark.range(64).repartition(4).mapInPandas(lambda it: it, "id long").count()

    from ssafynews_data_spark.caching import release_pins

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    def run_set(
        d: str, reps: int, qset: dict | None = None
    ) -> tuple[dict[str, float], dict[str, float]]:
        """Run every bench query ``reps`` times; return (median, min)
        per query.  Repeats are interleaved per-query (q1 x3, q2 x3, ...)
        so a transient co-tenant burst hits one query's repeats, where
        the median absorbs it, rather than one whole pass."""
        med: dict[str, float] = {}
        lo: dict[str, float] = {}
        for name, fn in (bench if qset is None else qset).items():
            runs: list[float] = []
            for _ in range(reps):
                t0 = time.perf_counter()
                n = fn(spark, d).count()
                runs.append(time.perf_counter() - t0)
                release_pins()  # keep storage memory flat between queries
            med[name] = round(statistics.median(runs), 3)
            lo[name] = round(min(runs), 3)
            print(
                f"# {name} @{d}: median {med[name]:.3f}s min {lo[name]:.3f}s "
                f"of {[round(r, 3) for r in runs]} ({n} rows)",
                file=sys.stderr,
            )
        return med, lo

    load_before = os.getloadavg()
    timings, timings_min = run_set(sf_dir, repeats)

    # Second-tier series (VERDICT r12 item 4): the headline 22 are
    # FROZEN for round-over-round comparability, so the serving
    # contracts + r12/r13 curation operators get their own wall-time
    # rows here — single-run (these are tracked, not compared at
    # settled precision; several are KMeans/BPE-fit-dominated and a
    # 3x repeat would double bench wall time for no signal).
    bench2 = {n: q.fn for n, q in sorted(qs.items()) if q.bench2}
    reps2 = int(os.environ.get("SPARK_GRAFT_BENCH2_REPEATS", "1"))
    timings2 = run_set(sf_dir, reps2, bench2)[0] if bench2 else {}

    # Secondary small-SF pass: separates fixed fit/JIT cost from
    # data-proportional shuffle cost round-over-round (VERDICT r1 §6).
    # Single-run: its job is the fixed-vs-scaling split, not variance.
    secondary = os.environ.get("SPARK_GRAFT_BENCH_SECONDARY", "/root/testdata/sf0.01")
    timings_small = run_set(secondary, 1)[0] if os.path.isdir(secondary) else {}

    # Scaling-evidence probe (VERDICT r13 item 2): at sf0.1 every
    # headline query is fixed-overhead-bound, so a c8-vs-c32 bench pair
    # is indistinguishable and the driver cannot verify from the
    # artifacts that $SPARK_GRAFT_CPUS was honored.  This row is a
    # CPU-bound data-parallel aggregate (no shuffle, no Python) whose
    # wall time scales ~1/cores; it lives in the DETAIL sidecar +
    # stderr only — never in the stdout "queries"/"value", which stay
    # byte-compatible round-over-round.  The load average is read
    # before it: the probe saturates every core, and loadavg_after
    # describes the load the measured query runs saw.
    load_after = os.getloadavg()
    probe_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1 << 30).selectExpr("sum(xxhash64(id, id + 1))").collect()
        probe_runs.append(round(time.perf_counter() - t0, 3))

    # Compact machine line: headline + per-query medians only.  Detail
    # (minima, loadavg, secondary SF) goes to the sidecar + stderr so the
    # stdout line stays far inside the driver's tail-capture window.
    out = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # second-tier series: serving + curation wall time, reported
        # BESIDE the frozen headline 22 (never summed into "value" —
        # the historical series must stay comparable)
        "value2": round(sum(timings2.values()), 3),
        "queries2": timings2,
    }
    sc = spark.sparkContext
    detail = {
        **out,
        "queries_min": timings_min,
        "value_min": round(sum(timings_min.values()), 3),
        "repeats": repeats,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "queries_secondary_sf": timings_small,
        "bench2_repeats": reps2,
        # parallelism contract evidence (VERDICT r13 item 2): what the
        # session ACTUALLY ran with, plus the core-scaling probe whose
        # median diverges ~linearly between a c8 and a c32 run
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "scaling_probe_seconds": round(statistics.median(probe_runs), 3),
        "scaling_probe_runs": probe_runs,
    }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_detail.json")
    with open(sidecar, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
