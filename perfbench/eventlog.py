"""Spark event-log reader: job, task, shuffle, spill and GC figures,
attributed to the job description the benchmark set before each call.

The session writes the log uncompressed and non-rolling (one JSON event
per line), so a plain line reader is enough.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    run_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    description: str
    stage_ids: list[int] = field(default_factory=list)


def parse(lines) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages from an iterable of event-log lines.  A stage
    shared by several jobs (a reused shuffle) belongs to the first job
    that lists it; only that job ran its tasks."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    owned: set[int] = set()
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(props.get("spark.job.description", ""))
            for sid in e.get("Stage IDs", []):
                if sid not in owned:
                    owned.add(sid)
                    job.stage_ids.append(sid)
            jobs[e["Job ID"]] = job
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(e["Stage ID"], Stage())
            st.run_ms.append(m.get("Executor Run Time", 0))
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics", {})
                                       .get("Shuffle Bytes Written", 0))
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    return jobs, stages


def read(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def summarize(jobs, stages, select=lambda description: True):
    """Totals over the jobs whose description ``select`` accepts and the
    stages they ran."""
    picked = [j for j in jobs.values() if select(j.description)]
    sts = [stages[s] for j in picked for s in j.stage_ids if s in stages]
    runs = [r for s in sts for r in s.run_ms]
    med = statistics.median(runs) if runs else 0
    return {
        "jobs": len(picked),
        "tasks": len(runs),
        "executor_run_s": sum(runs) / 1000.0,
        "gc_s": sum(s.gc_ms for s in sts) / 1000.0,
        "shuffle_bytes": sum(s.shuffle_write_bytes for s in sts),
        "spill_bytes": sum(s.spill_bytes for s in sts),
        "task_skew": (max(runs) / med) if med else 0.0,
    }
