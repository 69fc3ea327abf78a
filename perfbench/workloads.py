"""The benchmark's workloads.  Each is one client in one process
driving a closed loop: the next operation starts when the previous one
has returned.

- ``batch``: eleven of the frozen ``bench=True`` registered queries
  (``BATCH_QUERIES``: relational, event-time, pandas UDF, text, MLlib,
  similarity and curation operators) on a fixture reseeded at
  ``BATCH_SF``, each result written as parquet the way ``jobs/*.py``
  write theirs (never ``count()``, which prunes unused columns such as
  pandas UDF outputs).  At this scale it is bound by fixed driver,
  Catalyst, scheduling and MLlib-fit cost.
- ``ann_serve``: warm-index retrieval.  Set-up builds the IVF-PQ, SQ8
  and IVF-SQ8 indexes and reloads each one's metadata the way a
  cold-starting server would; the loop then sends requests cycling
  over the three kinds with batches of 1 and 10 query vectors drawn by
  the seed.  Exercises the serve path, never the build path.

Both run their set-up several times and report the median, so work
moved into set-up shows in ``setup_s``.  Nothing warms the session up
beforehand: a daily batch job and a cold-starting server both pay the
JVM's warm-up on every run, so batch's first pass and ann_serve's first
set-up include it.  ann_serve then sends one untimed request per index
kind, so that every timed pass finds the serve path equally warm.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from layers import Tracer, cpu_tree_s

BATCH_SF = 0.01
BATCH_QUERIES = (
    "cosine_topk", "curate_corpus", "daily_event_counts", "mock_enrich_documents",
    "pca_kmeans_clusters", "q1_pricing_summary", "q3_shipping_priority",
    "q5_regional_revenue", "sessionization", "word_freq_topk", "zscore_grouped_pandas",
)
#: rows-only batch queries (no DuckDB oracle): the row count their
#: registered contract fixes, as DuckDB SQL over the fixture
ROWS_ONLY_COUNT = {"pca_kmeans_clusters": "SELECT count(*) FROM embeddings"}
SERVE_SF = 0.01
BATCH_SETUP_REPS = 3
SERVE_SETUP_REPS = 2
KINDS = ("ivfpq", "sq8", "ivfsq8")
BATCHES = (1, 10)


@dataclass
class Op:
    """One timed operation: a query or a serve request."""

    group: str
    pass_no: int
    t0: float
    t_built: float
    t1: float
    cpu_s: float = 0.0
    catalyst: dict[str, float] = field(default_factory=dict)
    rows: int | None = None
    kind: str | None = None
    vectors: int = 0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None = None
    ops: list[Op] = field(default_factory=list)
    setups: list[tuple[float, float]] = field(default_factory=list)
    passes: list[tuple[float, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)

    def pass_wall(self, p: int) -> float:
        """Time pass ``p`` spent inside its operations (output checks
        between operations are not part of it)."""
        return sum(o.wall for o in self.ops if o.pass_no == p)

    def pass_cpu(self, p: int) -> float:
        """CPU seconds the driver, the JVM and the Python workers used
        inside the operations of pass ``p``."""
        return sum(o.cpu_s for o in self.ops if o.pass_no == p)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def _group(self, name: str | None) -> None:
        if self.tracer is not None:
            with self.tracer.probe():
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    def setup(self, fn, reps: int) -> None:
        for rep in range(reps):
            self._group(f"setup{rep}")
            t0 = time.time()
            fn()
            self.setups.append((t0, time.time()))
            print(f"# setup {rep}: {time.time() - t0:.2f} s", file=sys.stderr)
            self._group(None)

    def op(self, group: str, pass_no: int, build, action):
        """Time ``action(build())``; returns (action result, Op)."""
        self.attempted += 1
        self._group(group)
        cpu0 = cpu_tree_s(os.getpid())
        t0 = time.time()
        df = build()
        t_built = time.time()
        out = action(df)
        op = Op(group, pass_no, t0, t_built, time.time())
        op.cpu_s = cpu_tree_s(os.getpid()) - cpu0
        print(f"#   {group}: {op.wall:.3f} s, {op.cpu_s:.2f} cpu s", file=sys.stderr)
        self._group(None)
        if self.tracer is not None:
            with self.tracer.probe():
                op.catalyst = catalyst_ms(df)
        self.ops.append(op)
        return out, op


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations of the frame's own QueryExecution
    (forcing its physical plan if the action planned a copy)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _timed_passes(ctx: Context, run_pass) -> None:
    """Closed loop of whole passes until ``ctx.seconds`` have elapsed
    (at least one pass; a pass in progress always completes)."""
    start = time.time()
    p = 0
    while p == 0 or time.time() - start < ctx.seconds:
        t0 = time.time()
        run_pass(p)
        ctx.passes.append((t0, time.time()))
        print(f"# pass {p}: {ctx.pass_wall(p):.2f} s, {ctx.pass_cpu(p):.2f} cpu s in operations",
              file=sys.stderr)
        p += 1


# -- batch -----------------------------------------------------------------------


def batch(ctx: Context) -> None:
    import duckdb
    import pyarrow.parquet as pq

    from ssafynews_data_spark import registry
    from ssafynews_data_spark.sources.readers import TESTDATA_TABLES, load_table
    from tools.check_oracles import canon, kind_mismatches
    from tools.reseed_fixture import generate

    spark = ctx.spark
    queries = registry.load_all()
    fx = os.path.join(ctx.work, "fixture")

    def setup() -> None:
        generate(fx, ctx.seed, BATCH_SF)
        for t in TESTDATA_TABLES:
            load_table(spark, fx, t)

    ctx.setup(setup, BATCH_SETUP_REPS)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    out = os.path.join(ctx.work, "out")

    def check(name: str, op: Op) -> None:
        """The written result must match its DuckDB oracle; a rows-only
        result must hold the row count its contract fixes."""
        got = pq.read_table(os.path.join(out, name)).to_pandas()
        op.rows = len(got)
        oracle = queries[name].oracle
        if oracle is None:
            want_rows = con.execute(ROWS_ONLY_COUNT[name]).fetchone()[0]
            if len(got) != want_rows:
                ctx.fail(f"{name}: {len(got)} rows, contract says {want_rows}")
            return
        want = con.execute(oracle).fetchdf()
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            ctx.fail(f"{name}: shape {sorted(got.columns)}x{len(got)} vs oracle "
                     f"{sorted(want.columns)}x{len(want)}")
        elif kind_mismatches(got, want):
            ctx.fail(f"{name}: column types differ {kind_mismatches(got, want)}")
        elif canon(got) != canon(want):
            ctx.fail(f"{name}: values differ from oracle")

    def run_pass(p: int) -> None:
        for name in BATCH_QUERIES:
            try:
                _, op = ctx.op(
                    f"p{p}:{name}", p, lambda: queries[name].fn(spark, fx),
                    lambda df: df.write.mode("overwrite").parquet(os.path.join(out, name)),
                )
            except Exception as e:  # a failed query is a result, not a crash
                ctx.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            if p == 0:
                check(name, op)

    _timed_passes(ctx, run_pass)
    con.close()


# -- ann_serve -------------------------------------------------------------------


def _exact_topk(X: np.ndarray, qids, k: int) -> dict[int, set[int]]:
    """Exact cosine top-k of each query over the corpus, itself excluded."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn[list(qids)] @ Xn.T
    out = {}
    for i, q in enumerate(qids):
        sims[i, q] = -np.inf
        out[int(q)] = set(int(j) for j in np.argsort(-sims[i], kind="stable")[:k])
    return out


def _probed_counts(X: np.ndarray, centers: np.ndarray, cell_of: dict[int, int],
                   nprobe: int, qids) -> dict[int, int]:
    """Vectors other than the query itself in the ``nprobe`` cells whose
    centroids are nearest the query by cosine: an IVF index can return
    at most this many neighbours."""
    sizes = Counter(cell_of.values())
    Xq = X[list(qids)]
    sims = (Xq / np.linalg.norm(Xq, axis=1, keepdims=True)) @ (
        centers / np.linalg.norm(centers, axis=1, keepdims=True)
    ).T
    out = {}
    for i, q in enumerate(qids):
        probed = {int(c) for c in np.argsort(-sims[i])[:nprobe]}
        out[int(q)] = sum(sizes[c] for c in probed) - (cell_of[int(q)] in probed)
    return out


def ann_serve(ctx: Context) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ssafynews_data_spark.caching import pin, release_pins
    from ssafynews_data_spark.operators import similarity as S
    from ssafynews_data_spark.sources.readers import load_table
    from tools.reseed_fixture import generate

    spark = ctx.spark
    fx = os.path.join(ctx.work, "fixture")
    paths = {k: os.path.join(ctx.work, "index", k) for k in KINDS}
    meta: dict[str, tuple] = {}
    build_s: dict[str, list[float]] = {k: [] for k in KINDS}

    def setup() -> None:
        generate(fx, ctx.seed, SERVE_SF)
        corpus = pin(
            load_table(spark, fx, "embeddings").select(
                "vec_id", S.as_double(F.col("embedding")).alias("emb")
            )
        )
        corpus.count()
        for k in KINDS:
            t0 = time.time()
            getattr(S, f"{k}_build_index")(spark, corpus, paths[k])
            build_s[k].append(time.time() - t0)
            print(f"#   {k} build: {build_s[k][-1]:.2f} s", file=sys.stderr)
        release_pins()
        for k in KINDS:  # cold-start server: quantizer state from disk only
            meta[k] = getattr(S, f"{k}_load_meta")(spark, paths[k])

    ctx.setup(setup, SERVE_SETUP_REPS)
    for k in KINDS:
        ctx.extra[f"similarity.{k}.build_s"] = float(np.median(build_s[k]))

    X = np.stack(
        pq.read_table(os.path.join(fx, "embeddings.parquet"))
        .sort_by("vec_id")
        .column("embedding")
        .to_numpy(zero_copy_only=False)
    ).astype(np.float64)
    n = X.shape[0]
    # the cells each IVF index put its vectors in, read off its partitions
    ivf_centers = {"ivfpq": meta["ivfpq"][1], "ivfsq8": meta["ivfsq8"][0]}
    cell_of = {}
    for k in ivf_centers:
        t = pq.read_table(paths[k], columns=["vec_id", "centroid"]).to_pydict()
        cell_of[k] = {int(v): int(c) for v, c in zip(t["vec_id"], t["centroid"])}
    rng = np.random.RandomState(ctx.seed)
    hits = [0, 0]  # (true top-k neighbours returned, top-k neighbours asked for)

    def request(group: str, p: int, kind: str, qids):
        qrows = [(int(q), X[q].tolist()) for q in qids]
        serve = getattr(S, f"{kind}_serve")
        return ctx.op(
            group, p, lambda: serve(spark, paths[kind], *meta[kind], qrows),
            lambda df: df.collect(),
        )

    def answer(rows) -> list[tuple[int, int, int]]:
        return sorted((r.query_id, r.rank, r.neighbor_id) for r in rows)

    def check(kind: str, qids, rows) -> None:
        """Per query: as many neighbours as the index can return, at
        most TOP_K, ranked 1.., distinct, valid, never the query."""
        if kind in ivf_centers:
            reach = _probed_counts(X, ivf_centers[kind], cell_of[kind], S.NPROBE, qids)
        else:
            reach = {int(q): n - 1 for q in qids}
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        exact = _exact_topk(X, qids, S.TOP_K)
        for q in qids:
            got = by_q.get(int(q), [])
            ids = [r.neighbor_id for r in got]
            if (
                len(got) != min(S.TOP_K, reach[int(q)])
                or sorted(r.rank for r in got) != list(range(1, len(got) + 1))
                or len(set(ids)) != len(ids)
                or any(not 0 <= i < n or i == q for i in ids)
            ):
                ctx.fail(f"{kind}: bad neighbours for query {q}: {ids}")
            hits[0] += len(exact[int(q)] & set(ids))
            hits[1] += S.TOP_K
        if set(by_q) - {int(q) for q in qids}:
            ctx.fail(f"{kind}: answered unasked queries")

    def serve_checked(group: str, p: int, kind: str, b: int):
        qids = rng.choice(n, b, replace=False)
        try:
            rows, op = request(group, p, kind, qids)
        except Exception as e:  # a failed request is a result, not a crash
            ctx.fail(f"{kind}: {type(e).__name__}: {e}")
            return None
        op.kind, op.vectors, op.rows = kind, b, len(rows)
        check(kind, qids, rows)
        return qids, answer(rows)

    # one untimed request per kind warms the serve path; the seed picks
    # which of them is replayed after the loop and must match exactly
    first = {k: serve_checked(f"warm:{k}", -1, k, max(BATCHES)) for k in KINDS}
    ctx.ops.clear()

    def run_pass(p: int) -> None:
        for kind in KINDS:
            for b in BATCHES:
                serve_checked(f"p{p}:{kind}:{b}", p, kind, b)

    _timed_passes(ctx, run_pass)
    kind = KINDS[ctx.seed % len(KINDS)]
    if first[kind] is not None:
        qids, want = first[kind]
        rows, _ = request(f"replay:{kind}", -1, kind, qids)
        ctx.ops.pop()
        if answer(rows) != want:
            ctx.fail(f"{kind}: replayed request answered differently")
    ctx.extra["similarity.recall_at_5"] = hits[0] / max(1, hits[1])


WORKLOADS = {"batch": batch, "ann_serve": ann_serve}
