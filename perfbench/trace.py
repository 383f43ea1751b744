"""Spans around each engine call, and Spark event-log attribution per span.

A span is (layer, start, end, run id, pass index); spans stay in memory and
are written out as JSON lines when the run ends. In a traced pass every call
runs under its own job group ``perfbench/<layer>/<seq>``, and a Spark
event-log listener is attached for the pass only, so untraced passes in the
same process pay nothing for it. ``layer_totals`` sums the event log's
``SparkListenerJobStart`` / ``SparkListenerStageCompleted`` records per
group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench/"
_METRIC_KEYS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


@dataclass
class Span:
    layer: str
    start: float
    end: float
    run_id: str
    pass_index: int
    group: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    run_id: str
    log_root: str
    spans: list[Span] = field(default_factory=list)
    pass_index: int = 0
    traced: bool = False
    _listener: object = None
    _seq: int = 0

    @contextmanager
    def span(self, layer: str):
        group = None
        if self.traced:
            sc = self.spark.sparkContext
            self._seq += 1
            group = f"{GROUP_PREFIX}{layer}/{self._seq}"
            sc.setJobGroup(group, layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(layer, start, end, self.run_id, self.pass_index, group))

    def start_pass(self, index: int, traced: bool) -> None:
        self.pass_index = index
        self.traced = traced
        if traced:
            self._attach(os.path.join(self.log_root, f"pass-{index:03d}"))

    def end_pass(self) -> None:
        if self._listener is not None:
            self._detach()
        self.traced = False

    def _attach(self, log_dir: str) -> None:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            sc._jsc.sc().conf(),
            sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        sc._jsc.sc().addSparkListener(listener)
        self._listener = listener

    def _detach(self) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def layer_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """group id -> {jobs, tasks, task_ms, gc_ms, shuffle_write_bytes,
    spill_bytes}, summed over every event log under ``log_dir``. A stage is
    charged to the group of the first job that lists it."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return totals.setdefault(
            group,
            {"jobs": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0},
        )

    paths = sorted(
        os.path.join(root, n)
        for root, _dirs, files in os.walk(log_dir)
        for n in files
        if not n.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group or not group.startswith(GROUP_PREFIX):
                        continue
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    b = bucket(group)
                    b["tasks"] += int(info.get("Number of Tasks", 0))
                    for acc in info.get("Accumulables", []):
                        key = _METRIC_KEYS.get(acc.get("Name"))
                        if key is not None:
                            b[key] += int(acc.get("Value", 0))
    return totals


def layer_of(group: str) -> str:
    """``perfbench/<layer>/<seq>`` -> ``<layer>``."""
    return group[len(GROUP_PREFIX) :].rsplit("/", 1)[0]
