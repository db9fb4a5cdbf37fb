"""Spark event-log reader: task counters attributed to benchmark spans.

Spark writes one JSON event per line. Only four event types carry what the
benchmark needs, so every other line is skipped by its prefix before any JSON
is parsed:

- ``SparkListenerJobStart`` gives a job's stages and its local properties,
  among them ``spark.job.description`` — the span label the benchmark set
  with ``setJobDescription`` before the call that submitted the job.
- ``SparkListenerStageSubmitted`` / ``SparkListenerStageCompleted`` give the
  stages that actually ran (skipped stages emit neither) and, again, the
  submitting job's properties.
- ``SparkListenerTaskEnd`` gives each task's own counters.

Attribution is tasks -> stage -> job -> description -> span. The log must be
written uncompressed and unrolled (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``); Spark 4 defaults to a
zstd-compressed rolling directory.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1e6  # every *_mb metric is in 10^6 bytes
DESC = "spark.job.description"
_WANTED = tuple(
    f'{{"Event":"{name}"'
    for name in (
        "SparkListenerJobStart",
        "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted",
        "SparkListenerTaskEnd",
    )
)


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    failed: bool
    shuffle_write_bytes: int
    shuffle_write_records: int
    shuffle_read_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    """Jobs, stages and tasks of one application, keyed for attribution."""

    job_desc: dict[int, str] = field(default_factory=dict)
    stage_desc: dict[int, str] = field(default_factory=dict)
    stage_ran: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)


def _props_desc(event: dict) -> str | None:
    return (event.get("Properties") or {}).get(DESC)


def parse_lines(lines) -> EventLog:
    log = EventLog()
    job_stages: dict[int, list[int]] = {}
    for line in lines:
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            info = ev["Task Info"]
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            log.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    failed=bool(info.get("Failed")) or reason != "Success",
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_write_records=sw.get("Shuffle Records Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                )
            )
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.job_desc[jid] = _props_desc(ev) or ""
            job_stages[jid] = ev.get("Stage IDs", [])
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            desc = _props_desc(ev)
            if desc is not None:
                log.stage_desc.setdefault(sid, desc)
        else:  # SparkListenerStageCompleted
            log.stage_ran.add(ev["Stage Info"]["Stage ID"])
    # a stage whose submission carried no properties belongs to the first
    # job that lists it (later jobs reuse its shuffle output and skip it)
    for jid in sorted(job_stages):
        for sid in job_stages[jid]:
            log.stage_desc.setdefault(sid, log.job_desc[jid])
    return log


def read_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path`` (one application)."""
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {path}")
    lines = []
    for name in files:
        with open(name, encoding="utf-8") as fh:
            lines.extend(fh)
    return parse_lines(lines)


@dataclass
class Counters:
    """Spark's task counters summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    cpu_ns: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    # worst stage's max/median task run time (1.0 = perfectly even)
    task_skew: float = 0.0

    def metrics(self, wall_s: float, cores: int) -> dict[str, float]:
        """The ``spark.*`` per-layer metrics for a span of ``wall_s``."""
        cpu_s = self.cpu_ns / 1e9
        return {
            "spark.jobs": self.jobs,
            "spark.stages": self.stages,
            "spark.tasks": self.tasks,
            "spark.failed_tasks": self.failed_tasks,
            "spark.shuffle_write_mb": self.shuffle_write_bytes / MB,
            "spark.shuffle_write_records": self.shuffle_write_records,
            "spark.shuffle_read_mb": self.shuffle_read_bytes / MB,
            "spark.spill_mb": self.spill_bytes / MB,
            "spark.executor_cpu_s": cpu_s,
            "spark.executor_run_s": self.run_ms / 1e3,
            "spark.gc_s": self.gc_ms / 1e3,
            "spark.task_skew": self.task_skew,
            "spark.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }


def counters_by_desc(log: EventLog) -> dict[str, Counters]:
    """Counters per job description, exclusive: a job is counted once, under
    the description that was set when it was submitted."""
    out: dict[str, Counters] = defaultdict(Counters)
    for desc in log.job_desc.values():
        out[desc].jobs += 1
    run_by_stage: dict[int, list[int]] = defaultdict(list)
    for t in log.tasks:
        c = out[log.stage_desc.get(t.stage, "")]
        c.tasks += 1
        c.failed_tasks += t.failed
        c.shuffle_write_bytes += t.shuffle_write_bytes
        c.shuffle_write_records += t.shuffle_write_records
        c.shuffle_read_bytes += t.shuffle_read_bytes
        c.spill_bytes += t.spill_bytes
        c.cpu_ns += t.cpu_ns
        c.run_ms += t.run_ms
        c.gc_ms += t.gc_ms
        run_by_stage[t.stage].append(t.run_ms)
    for sid in log.stage_ran:
        out[log.stage_desc.get(sid, "")].stages += 1
    for sid, runs in run_by_stage.items():
        if len(runs) < 2:
            continue
        skew = max(runs) / max(statistics.median(runs), 1.0)
        c = out[log.stage_desc.get(sid, "")]
        c.task_skew = max(c.task_skew, skew)
    return dict(out)


def rollup(by_desc: dict[str, Counters], descs) -> Counters:
    """Sum the counters of several descriptions (a span and its children)."""
    total = Counters()
    for d in descs:
        c = by_desc.get(d)
        if c is None:
            continue
        for name in (
            "jobs", "stages", "tasks", "failed_tasks",
            "shuffle_write_bytes", "shuffle_write_records",
            "shuffle_read_bytes", "spill_bytes", "cpu_ns", "run_ms", "gc_ms",
        ):
            setattr(total, name, getattr(total, name) + getattr(c, name))
        total.task_skew = max(total.task_skew, c.task_skew)
    return total
