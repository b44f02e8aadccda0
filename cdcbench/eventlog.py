"""Spark event-log reader: per-stage executor metrics grouped by
`spark.job.description`, plus every job's wall-clock interval.

Reads an uncompressed event log (spark.eventLog.compress=false). The task
fields are the ones tools/stage_report.py reports (executor run and CPU
time, GC, shuffle bytes read and written, shuffle write time, fetch wait,
input bytes), plus memory and disk spill and the task count.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# (output name, path into "Task Metrics", scale to output unit)
TASK_FIELDS = (
    ("run_s", ("Executor Run Time",), 1e-3),
    ("cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Local Bytes Read"), 1e-6),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Remote Bytes Read"), 1e-6),
    ("fetch_wait_s", ("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
    ("shuffle_write_mb", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1e-6),
    ("shuffle_write_s", ("Shuffle Write Metrics", "Shuffle Write Time"), 1e-9),
    ("input_mb", ("Input Metrics", "Bytes Read"), 1e-6),
    ("spill_mb", ("Memory Bytes Spilled",), 1e-6),
    ("spill_mb", ("Disk Bytes Spilled",), 1e-6),
)
METRIC_NAMES = tuple(dict.fromkeys(n for n, _, _ in TASK_FIELDS)) + ("tasks",)

# merge sets "merge[<source>/<batch>]: <phase>"; compaction sets
# "compact: <n> buckets → v<version>"; COW adds "(<n> buckets)"
_MERGE_PREFIX = re.compile(r"^merge\[[^\]]*\]:\s*")
_COUNT_SUFFIX = re.compile(r"\s*\(\d+ buckets\)$")


def job_group(description: str | None) -> str:
    """Normalize a job description to its phase name, e.g.
    "merge[watch/3]: COW write (32 buckets)" -> "COW write"."""
    if not description:
        return "other"
    if description.startswith("compact:"):
        return "compact"
    if _MERGE_PREFIX.match(description):
        return _COUNT_SUFFIX.sub("", _MERGE_PREFIX.sub("", description))
    return description


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None
    description: str | None
    stage_ids: list[int]
    metrics: dict = field(default_factory=dict)
    stages_run: int = 0

    @property
    def group(self) -> str:
        return job_group(self.description)


def _dig(d: dict, path) -> float:
    for k in path:
        if not isinstance(d, dict):
            return 0.0
        d = d.get(k)
    return float(d or 0)


def _log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for base, _, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".crc") and "appstatus" not in fn:
                out.append(os.path.join(base, fn))
    return sorted(out)


def read_jobs(path: str) -> list[Job]:
    """Every job in the event log(s) under `path`, in submission order, with
    its tasks' metrics summed over the stages it ran."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = {}
    for fn in _log_files(path):
        with open(fn, errors="ignore") as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    jobs[jid] = Job(jid, e.get("Submission Time", 0), None, desc,
                                    list(e.get("Stage IDs", [])))
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e.get("Completion Time")
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    acc = stage_tasks.setdefault(e["Stage ID"], dict.fromkeys(METRIC_NAMES, 0.0))
                    for name, p, scale in TASK_FIELDS:
                        acc[name] += _dig(m, p) * scale
                    acc["tasks"] += 1
    for sid, acc in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        job.stages_run += 1
        for k, v in acc.items():
            job.metrics[k] = job.metrics.get(k, 0.0) + v
    return [jobs[j] for j in sorted(jobs)]


def by_group(jobs: list[Job]) -> dict[str, dict]:
    """Executor metrics summed per job group, plus job and stage counts."""
    out: dict[str, dict] = {}
    for j in jobs:
        g = out.setdefault(j.group, {**dict.fromkeys(METRIC_NAMES, 0.0), "jobs": 0, "stages": 0})
        for k, v in j.metrics.items():
            g[k] += v
        g["jobs"] += 1
        g["stages"] += j.stages_run
    return out
