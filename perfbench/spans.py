"""Spans around layer calls, and the Spark event-log summary per span.

A span records name, start, end, parent and run id, and sets the Spark
job group to its name, so every job the layer runs is tagged with it.
Spans stay in memory and go into the run's result file when the run
ends.  :func:`summarize_event_log` then sums the executor task metrics
and the Python-crossing SQL metrics of every stage by job group.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

# event-log accumulable name -> (summary key, scale to the reported unit)
_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_rows", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "data sent to Python workers": ("py_sent_bytes", 1),
    "data returned from Python workers": ("py_returned_bytes", 1),
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
}


class Tracer:
    """In-memory spans; each span is also the Spark job group of its jobs."""

    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name``; the yielded dict collects counts for the span."""
        parent = self._open[-1] if self._open else None
        counts: dict = {}
        self._open.append(name)
        self._sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield counts
        finally:
            end = time.time()
            self._open.pop()
            if parent is None:
                self._sc.setJobGroup("", "")
            else:
                self._sc.setJobGroup(parent, parent)
            self.spans.append({
                "name": name, "start": start, "end": end, "parent": parent,
                "run_id": self.run_id, "counts": counts,
            })


def _event_files(log_dir: Path) -> list[Path]:
    return sorted(
        p for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    )


def summarize_event_log(log_dir: Path) -> dict[str, Counter]:
    """Per job group: stage metrics summed over completed stages, plus the
    number of jobs and stages.  Read after the SparkContext has stopped,
    so the log is complete."""
    stage_group: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for path in _event_files(log_dir):
        with path.open() as f:
            for line in f:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for stage_id in event.get("Stage IDs", []):
                        stage_group[stage_id] = group
                elif kind == "SparkListenerStageCompleted":
                    info = event["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    out[group]["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        key = _STAGE_METRICS.get(acc.get("Name"))
                        if key is None:
                            continue
                        try:
                            value = float(acc.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        out[group][key[0]] += value * key[1]
    return out
