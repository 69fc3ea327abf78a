"""The engine session's resource defaults."""

from __future__ import annotations

import os

from ssafynews_data_spark.session import session_builder


def test_driver_heap_default_follows_physical_ram(monkeypatch):
    """Unset, the driver heap is a quarter of physical RAM (at most
    16g), so it never claims the whole machine; ``SPARK_GRAFT_DRIVER_MEM``
    still overrides it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = session_builder()._options["spark.driver.memory"]
    assert heap == f"{min(16 * 1024, phys_mb // 4)}m"
    assert int(heap[:-1]) <= phys_mb // 2
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1500m")
    assert session_builder()._options["spark.driver.memory"] == "1500m"


def test_engine_driver_jvm_runs_the_policy_beside_callers_flags(tmp_path):
    """A fresh engine session whose caller sets its own
    ``extraJavaOptions`` (perfbench's route) launches its driver JVM
    with every flag of the compile policy and every flag of the
    caller's.  It runs in a child process: the suite's own JVM is
    already up, and a JVM's flags are fixed at launch."""
    import json
    import subprocess
    import sys

    from ssafynews_data_spark.session import DRIVER_JIT_POLICY

    caller = f"-Djava.io.tmpdir={tmp_path} -XX:-UsePerfData"
    child = (
        "import json, sys\n"
        "from ssafynews_data_spark import get_session\n"
        "s = get_session(master='local[1]', extra_conf={'spark.driver.extraJavaOptions': sys.argv[1]})\n"
        "bean = s.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print(json.dumps(list(bean.getInputArguments())))\n"
        "s.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m", PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", child, caller],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    assert set(DRIVER_JIT_POLICY.split()) <= set(args), args
    assert set(caller.split()) <= set(args), args


def test_long_lived_session_keeps_the_jdk_defaults(spark):
    """The suite's session, one JVM for the whole run, passes
    ``JDK_DEFAULT_JIT``: its driver JVM carries no tier-4 flag."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(bean.getInputArguments())
    assert not [a for a in args if a.startswith("-XX:Tier4")], args
