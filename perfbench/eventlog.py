"""Parser for an uncompressed, non-rolling Spark event log.

The traced run starts Spark with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` (Spark 4 defaults to
zstd-compressed rolling logs, and no zstd codec is installed for
Python). The log is one JSON object per line; this module keeps the job,
stage and task events and reduces them per time window.

Stages are attributed to a layer of the program by the Python call site
PySpark records in the stage name (``collect at
.../mysql2pg_spark/sinks/dbapi_sink.py:112``).
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

LAYERS = ("orchestrator", "sources", "sinks", "operators", "other")
_SITE_RE = re.compile(r"mysql2pg_spark/(\w+)(?:/\w+)*\.py")


def layer_of(call_site: str) -> str:
    m = _SITE_RE.search(call_site or "")
    if not m:
        return "other"
    return m.group(1) if m.group(1) in LAYERS else "other"


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    in_bytes: int
    out_bytes: int
    shuffle_write_bytes: int


@dataclass
class Job:
    id: int
    submit_ms: int
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stage_names: dict[int, str] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def find_log(log_dir: str) -> str | None:
    """The application's log file (``.inprogress`` while still open)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")),
                   key=os.path.getmtime)
    return files[-1] if files else None


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a torn last line of a log still being written
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs.append(Job(ev["Job ID"], ev["Submission Time"],
                                    list(ev.get("Stage IDs", []))))
                for si in ev.get("Stage Infos", []):
                    log.stage_names.setdefault(si["Stage ID"],
                                               si.get("Stage Name", ""))
            elif kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                log.stage_names[si["Stage ID"]] = si.get("Stage Name", "")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                log.tasks.append(Task(
                    stage=ev["Stage ID"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    in_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    out_bytes=(m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0),
                    shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                ))
    return log


@dataclass
class WindowStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    run_s_by_layer: dict = field(default_factory=lambda: dict.fromkeys(
        LAYERS, 0.0))


def window(log: EventLog, start_ms: float, end_ms: float) -> WindowStats:
    """Totals over the jobs submitted in [start_ms, end_ms) and every
    task of their stages."""
    out = WindowStats()
    stages: set[int] = set()
    for j in log.jobs:
        if start_ms <= j.submit_ms < end_ms:
            out.jobs += 1
            stages.update(j.stage_ids)
    mb = 1024 * 1024
    for t in log.tasks:
        if t.stage not in stages:
            continue
        out.tasks += 1
        out.run_s += t.run_ms / 1000
        out.cpu_s += t.cpu_ns / 1e9
        out.gc_s += t.gc_ms / 1000
        out.input_mb += t.in_bytes / mb
        out.output_mb += t.out_bytes / mb
        out.shuffle_write_mb += t.shuffle_write_bytes / mb
        out.run_s_by_layer[layer_of(log.stage_names.get(t.stage, ""))] += (
            t.run_ms / 1000)
    return out
