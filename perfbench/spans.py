"""Spans around the benchmark's calls into each layer, attributed to Spark
work through job groups and the event log.

Spark runs lazily: a library call such as ``rdl.load_dim`` only builds a
plan, and its work runs inside whichever later action consumes it. So a
traced run closes every span with a seam (``localCheckpoint``, eager) that
materializes the span's output inside the span, and sets one Spark job
group per span call, so every job, stage and task the call causes is
counted against it. The seams change the plan, which is why end-to-end
metrics come from an untraced run, and why the traced run's extra time is
reported as the tracing overhead.

Spans are flat (no span opens inside another), so a span's self time is
its wall time.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Task-metric accumulables the parser sums per job group.
_ACC_PYTHON_RUN = "time to run Python workers"


@dataclass
class SpanCall:
    name: str
    op: int  # index of the operation (batch or serving read) it belongs to
    group: str  # Spark job group id, unique per call
    wall_s: float = 0.0
    rows_in: int | None = None
    rows_out: int | None = None


@dataclass
class Tracer:
    """Records span calls; a no-op when ``enabled`` is false."""

    spark: object
    enabled: bool
    op: int = 0
    calls: list[SpanCall] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        call = SpanCall(name, self.op, f"{name}#{len(self.calls)}")
        sc = self.spark.sparkContext
        sc.setJobGroup(call.group, name)
        t0 = time.perf_counter()
        try:
            yield call
        finally:
            call.wall_s = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.calls.append(call)

    def seam(self, df):
        """Materialize ``df`` inside the current span (traced runs only)."""
        return df.localCheckpoint() if self.enabled else df


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0  # executor run time
    cpu_ms: float = 0.0  # executor CPU time
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0  # memory + disk bytes spilled
    python_ms: float = 0.0  # "time to run Python workers"

    @property
    def shuffle_bytes(self) -> float:
        return self.shuffle_read_bytes + self.shuffle_write_bytes


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one plain JSON-lines event log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4 otherwise writes a rolling v2 directory, zstd-compressed
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def parse_event_log(path: str) -> dict[str, GroupMetrics]:
    """Sum ``SparkListenerTaskEnd`` metrics per job group.

    A stage belongs to the group of the job that submitted it; jobs and
    stages without a group are ignored. Read the log after the session has
    stopped, when every event is flushed.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerStageSubmitted":
                # a stage whose shuffle output is reused is never submitted
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    out[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = out[group]
                g.tasks += 1
                g.run_ms += tm["Executor Run Time"]
                g.cpu_ms += tm["Executor CPU Time"] / 1e6
                rd, wr = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
                g.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                g.shuffle_write_bytes += wr["Shuffle Bytes Written"]
                g.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == _ACC_PYTHON_RUN:
                        g.python_ms += float(acc.get("Update") or 0)
    return dict(out)


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    return os.path.join(log_dir, files[0])
