"""Scratch artifacts: every query-written file (index stores, layouts,
format copies, stream checkpoints) lives in a fresh directory from
``caching.scratch_dir``, under one root private to the process."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from ssafynews_data_spark.operators import maintenance, zorder

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "fn", [maintenance.rollup_maintenance, zorder.zorder_box_query], ids=lambda f: f.__name__
)
def test_same_basename_run_leaves_earlier_result_readable(spark, sf_dir, tmp_path, fn):
    """A lazy result keeps reading the artifact it was built on after
    the same query runs on another fixture with the same directory
    name.  A scratch path keyed by ``basename(sf_dir)`` let the second
    run overwrite the first one's files (FileNotFoundException)."""
    alone = fn(spark, sf_dir).collect()
    copy = tmp_path / os.path.basename(os.path.normpath(sf_dir))
    copy.mkdir()
    for f in os.listdir(sf_dir):
        if f == "events.parquet":
            events = pq.read_table(os.path.join(sf_dir, f))
            pq.write_table(events.slice(0, events.num_rows // 5 + 1), str(copy / f))
        else:
            shutil.copy(os.path.join(sf_dir, f), str(copy / f))

    first = fn(spark, sf_dir)
    other = fn(spark, str(copy)).collect()
    assert other != alone  # the copy really answers differently
    assert first.collect() == alone


_SCRATCH_PROBE = """
import sys, threading
from ssafynews_data_spark.caching import scratch_dir
sys.setswitchinterval(1e-6)
out = []
ts = [threading.Thread(target=lambda: out.append(scratch_dir("x"))) for _ in range(16)]
for t in ts:
    t.start()
for t in ts:
    t.join(60)
assert not any(t.is_alive() for t in ts)
print("\\n".join(out))
"""


def test_scratch_root_is_private_to_each_process(tmp_path):
    """Two processes (no Spark), 16 racing threads each: one root per
    process in the first SPARK_LOCAL_DIRS entry, a distinct directory
    per call, and the root gone once its process exits."""
    local, second = tmp_path / "local", tmp_path / "second"
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{local},{second}", PYTHONPATH=REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _SCRATCH_PROBE], env=env, stdout=subprocess.PIPE, text=True
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300)[0].split() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    roots = []
    for dirs in outs:
        assert len(dirs) == len(set(dirs)) == 16
        assert all(os.path.basename(d).startswith("x_") for d in dirs)
        (root,) = {os.path.dirname(d) for d in dirs}
        assert os.path.dirname(root) == str(local)
        assert not os.path.exists(root)
        roots.append(root)
    assert roots[0] != roots[1]
    assert not second.exists()


def test_scratch_location_has_one_owner():
    """Only ``caching.scratch_dir`` decides where scratch artifacts go
    and removes them: no other package line makes a temp directory,
    deletes a tree, or builds a path from the package location."""
    pkg = os.path.join(REPO, "ssafynews_data_spark")
    caching = os.path.join(pkg, "caching.py")
    with open(caching) as fh:
        (owner,) = [
            n for n in ast.parse(fh.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "scratch_dir"
        ]
    allowed = range(owner.lineno, owner.end_lineno + 1)
    banned = ("rmtree", "mkdtemp", "spark-warehouse", "ssafynews_data_spark.__file__")
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if any(b in line for b in banned) and not (
                        path == caching and i in allowed
                    ):
                        hits.append(f"{os.path.relpath(path, REPO)}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)


def test_engine_session_warehouse_lies_under_the_scratch_root(spark):
    """Catalog access creates the warehouse directory, so the engine
    session points it under the scratch root; Spark's default is
    ``spark-warehouse`` in the caller's working directory."""
    from ssafynews_data_spark.caching import scratch_dir

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    root = os.path.dirname(scratch_dir("probe"))
    assert os.path.commonpath([root, warehouse]) == root
    assert os.path.commonpath([os.getcwd(), warehouse]) != os.getcwd()
