"""Spark event-log reader: per-job-group task totals for the traced runs.

Spark 4 writes a rolling log per application, ``eventlog_v2_<app>/
events_<n>_<app>[.zstd]``; zstd parts are read with pyarrow's codec, so no
extra dependency is needed.  Jobs are grouped by the property the
benchmark sets around each layer (``spark.jobGroup.id``); a streaming
query's jobs carry its run id as their group and their micro-batch id as
``streaming.sql.batchId``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import Counter
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
BATCH_KEY = "streaming.sql.batchId"

_PART_RE = re.compile(r"events_(\d+)_")


@dataclass
class GroupStats:
    """Task totals for the jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: stage id -> run times (ms) of its tasks
    stage_task_ms: dict[int, list[float]] = field(default_factory=dict)
    #: micro-batch id -> jobs it ran (streaming groups only)
    batch_jobs: Counter = field(default_factory=Counter)

    def task_skew(self) -> float:
        """max/median task run time of the stage with the most task time
        (0 when the group ran no task)."""
        if not self.stage_task_ms:
            return 0.0
        times = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med else 1.0

    def jobs_per_batch(self) -> float:
        return statistics.median(self.batch_jobs.values()) if self.batch_jobs else 0.0


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, one application after another,
    parts of a rolling log in index order."""
    out: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith("."):
            continue
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if _PART_RE.match(p)]
            parts.sort(key=lambda p: int(_PART_RE.match(p).group(1)))
            out += [os.path.join(path, p) for p in parts]
        else:
            out.append(path)
    return out


def _read(path: str) -> bytes:
    if path.endswith(".zstd"):
        import pyarrow as pa

        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as f:
            return f.read()
    if path.endswith((".lz4", ".lzf", ".snappy")):
        raise ValueError(f"unsupported event-log codec: {path}")
    with open(path, "rb") as f:
        return f.read()


def iter_events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        for line in _read(path).splitlines():
            if line.strip():
                yield json.loads(line)


def aggregate(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Job-group id -> task totals.  A stage belongs to the group of the
    first job that lists it; jobs without a group are ignored."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get(GROUP_KEY)
            if gid is None:
                continue
            g = groups.setdefault(gid, GroupStats())
            g.jobs += 1
            if props.get(BATCH_KEY) is not None:
                g.batch_jobs[props[BATCH_KEY]] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if gid is None or not m:
                continue
            g = groups[gid]
            run_ms = m.get("Executor Run Time", 0)
            g.tasks += 1
            g.task_ms += run_ms
            g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            g.gc_ms += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.stage_task_ms.setdefault(ev["Stage ID"], []).append(run_ms)
    return groups
