"""The per-JVM-thread CPU split of ``tools/profile_bench.py``,
on a fake ``/proc`` (no Spark)."""

from __future__ import annotations

import os

from tools.profile_bench import jvm_threads, thread_kind, thread_split_s, total_split


def _stat(tmp_path, pid: int, tid: int, name: str, utime: int, stime: int) -> None:
    d = tmp_path / str(pid) / "task" / str(tid)
    d.mkdir(parents=True, exist_ok=True)
    # fields after the name: state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime ...
    (d / "stat").write_text(f"{tid} ({name}) S 1 1 1 0 -1 0 0 0 0 0 {utime} {stime} 0 0 20 0\n")


def test_thread_kinds_by_name_prefix():
    assert thread_kind("C2 CompilerThre") == "compiler"
    assert thread_kind("Executor task l") == "executor"
    assert thread_kind("Thread-3") == "py4j"
    assert thread_kind("dag-scheduler-e") == "scheduler"
    assert thread_kind("GC Thread#0") == "gc"
    assert thread_kind("java") == "other"


def test_split_is_the_per_thread_delta(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _stat(tmp_path, 9, 10, "C1 CompilerThre", tick, 0)
    _stat(tmp_path, 9, 11, "Executor task l", 0, 0)
    _stat(tmp_path, 9, 12, "weird) name (x", 5 * tick, 0)  # ')' in a name
    before = jvm_threads(9, str(tmp_path))
    assert before[12] == ("other", 5 * tick)
    _stat(tmp_path, 9, 10, "C1 CompilerThre", 3 * tick, tick)
    _stat(tmp_path, 9, 11, "Executor task l", 2 * tick, 0)
    _stat(tmp_path, 9, 13, "Thread-7", tick, tick)  # started in between
    split = thread_split_s(before, jvm_threads(9, str(tmp_path)))
    assert split == {
        "compiler": 3.0, "executor": 2.0, "py4j": 2.0, "scheduler": 0.0,
        "gc": 0.0, "other": 0.0,
    }


def test_total_split_sums_each_kind():
    splits = [
        {"compiler": 2.5, "executor": 1.0, "py4j": 0.5, "scheduler": 0.0, "gc": 0.25, "other": 0.0},
        {"compiler": 1.5, "executor": 0.5, "py4j": 0.0, "scheduler": 0.25, "gc": 0.0, "other": 1.0},
    ]
    assert total_split(splits) == {
        "compiler": 4.0, "executor": 1.5, "py4j": 0.5, "scheduler": 0.25,
        "gc": 0.25, "other": 1.0,
    }
    assert total_split([]) == dict.fromkeys(
        ["compiler", "executor", "py4j", "scheduler", "gc", "other"], 0.0
    )
