"""Foreign-Spark-process detection against live child processes (no
Spark session needed)."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from islamic_ner_spark import hostguard


def _wait_for(predicate, timeout_s: float = 10.0) -> None:
    deadline = time.time() + timeout_s
    while not predicate():
        assert time.time() < deadline, "child process never reached the expected state"
        time.sleep(0.05)


def child_pids(processes: list[tuple[int, str]]) -> set[int]:
    return {pid for pid, _cmd in processes}


@pytest.fixture
def daemon_child():
    """A live child whose cmdline carries the ``pyspark.daemon`` marker."""
    child = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(60)", "pyspark.daemon"]
    )
    try:
        _wait_for(lambda: child.pid in dict(hostguard.spark_processes()))
        yield child
    finally:
        child.kill()
        child.wait()


def test_own_daemon_child_is_not_foreign(daemon_child) -> None:
    assert daemon_child.pid not in child_pids(hostguard.foreign_spark_processes())


def test_child_with_unrelated_parent_is_foreign(daemon_child, monkeypatch) -> None:
    real_ppid = hostguard._stat_ppid
    monkeypatch.setattr(
        hostguard,
        "_stat_ppid",
        lambda pid: 1 if pid == daemon_child.pid else real_ppid(pid),
    )
    assert daemon_child.pid in child_pids(hostguard.foreign_spark_processes())


def test_stat_ppid_parses_comm_with_spaces_and_paren() -> None:
    comm = "a b) c"
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"open('/proc/self/comm', 'w').write({comm!r}); "
            "import time; time.sleep(60)",
        ]
    )
    try:
        _wait_for(
            lambda: Path(f"/proc/{child.pid}/comm").read_text().strip() == comm
        )
        assert hostguard._stat_ppid(child.pid) == os.getpid()
    finally:
        child.kill()
        child.wait()
