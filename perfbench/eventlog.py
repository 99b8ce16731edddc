"""Per-job task metrics from Spark's own event log (one JSON object per
line; written with ``spark.eventLog.compress=false`` and rolling off).

A job's description is the label the benchmark set before the driver
call that submitted it; each task is charged to the job that first
listed its stage (a later job that reuses a finished stage lists it but
runs none of its tasks).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

_WANTED = ('"SparkListenerJobStart"', '"SparkListenerTaskEnd"')


@dataclass
class JobStats:
    job_id: int
    description: str | None
    tasks: int = 0
    cpu_s: float = 0.0        # executor CPU time
    run_s: float = 0.0        # executor run (wall) time, summed over tasks
    gc_s: float = 0.0
    shuffle_bytes: int = 0    # shuffle read + write
    spill_bytes: int = 0      # memory + disk bytes spilled
    peak_mem_bytes: int = 0   # largest task peakExecutionMemory
    records_written: int = 0


def read_jobs(lines) -> dict[int, JobStats]:
    """Fold an event log (an iterable of lines) into per-job stats."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    task_ends = []
    for line in lines:
        if not any(w in line[:48] for w in _WANTED):
            continue
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs[jid] = JobStats(jid, desc)
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        else:
            task_ends.append(ev)
    for ev in task_ends:
        jid = stage_job.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if jid is None or not m:
            continue
        j = jobs[jid]
        j.tasks += 1
        j.cpu_s += m["Executor CPU Time"] / 1e9
        j.run_s += m["Executor Run Time"] / 1e3
        j.gc_s += m["JVM GC Time"] / 1e3
        rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
        j.shuffle_bytes += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                            + wr["Shuffle Bytes Written"])
        j.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        j.peak_mem_bytes = max(j.peak_mem_bytes, m["Peak Execution Memory"])
        j.records_written += m["Output Metrics"]["Records Written"]
    return jobs


def read_jobs_file(path: str) -> dict[int, JobStats]:
    with open(path, encoding="utf-8") as f:
        return read_jobs(f)
