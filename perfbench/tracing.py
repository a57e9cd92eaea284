"""Spans around calls into shaha_spark, and the Spark counters behind them.

Every timed call runs inside :meth:`Tracer.span`. With tracing on, the
span is also a Spark job group, so the Spark event log (enabled at JVM
start by :func:`event_log_conf`) attributes each task's metrics to the
call that caused it, and the status tracker can count its tasks. With
tracing off a span is only a clock reading.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

#: task counters summed per job group: name -> (event-log field paths, scale)
TASK_COUNTERS = {
    "records_read": ([("Input Metrics", "Records Read")], 1),
    "shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1),
    "shuffle_read_bytes": (
        [
            ("Shuffle Read Metrics", "Remote Bytes Read"),
            ("Shuffle Read Metrics", "Local Bytes Read"),
        ],
        1,
    ),
    "gc_ms": ([("JVM GC Time",)], 1),
    "executor_cpu_s": ([("Executor CPU Time",)], 1e-9),
}


def event_log_conf(directory: Path) -> list[str]:
    """spark-submit arguments that write an uncompressed, single-file
    event log into ``directory``."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file:{directory}",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", "spark.eventLog.compress=false",
    ]


@dataclass
class Span:
    name: str
    group: str
    seconds: float = 0.0


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        span = Span(name, f"{name}#{len(self.spans)}")
        if self.enabled:
            self.sc.setJobGroup(span.group, name)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.seconds = time.perf_counter() - t0
            self.spans.append(span)
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def tasks(self, span: Span) -> int:
        """Tasks the span's jobs ran, from the status tracker."""
        st = self.sc.statusTracker()
        total = 0
        for job in st.getJobIdsForGroup(span.group):
            info = st.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = st.getStageInfo(stage)
                total += sinfo.numCompletedTasks if sinfo else 0
        return total

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]


def read_event_log(directory: Path) -> dict[str, dict[str, float]]:
    """Task counters summed per job group, from the finished event log."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in directory.iterdir():
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    for name, (paths, scale) in TASK_COUNTERS.items():
                        for path in paths:
                            value = metrics
                            for key in path:
                                value = value.get(key, 0) if isinstance(value, dict) else 0
                            out[group][name] += value * scale
    return out
