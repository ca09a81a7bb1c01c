"""Stdlib reader for an uncompressed, non-rolling Spark event log.

Folds JobStart / JobEnd / StageCompleted events into one profile per job
group: the benchmark sets one job group per operation, so a profile is what
one operation made Spark do.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from spans import covered

# Stage accumulables summed into a profile, by the name they carry in the log.
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "exec_run_ms",
    "internal.metrics.executorCpuTime": "exec_cpu_ns",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.input.recordsRead": "scan_rows",
    "internal.metrics.output.bytesWritten": "output_bytes",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int
    metrics: dict[str, int]


@dataclass
class Profile:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_s: float = 0.0
    metrics: dict[str, int] = field(
        default_factory=lambda: dict.fromkeys(STAGE_METRICS.values(), 0))


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def read(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                         ev["Submission Time"],
                                         stage_ids=list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" in info:
                    continue
                metrics = dict.fromkeys(STAGE_METRICS.values(), 0)
                for acc in info.get("Accumulables", []):
                    key = STAGE_METRICS.get(acc.get("Name"))
                    if key:
                        metrics[key] += _num(acc.get("Value"))
                stages[info["Stage ID"]] = Stage(info["Stage ID"],
                                                 info["Number of Tasks"], metrics)
    return jobs, stages


def profile(jobs: dict[int, Job], stages: dict[int, Stage],
            group: str | None = None,
            window_ms: tuple[int, int] | None = None) -> Profile:
    """Fold the jobs of one job group (or, with ``window_ms``, every job that
    started inside that wall-clock window) and the stages they completed.
    A stage skipped because its shuffle output was reused never completes,
    so it is not counted."""
    if window_ms is None:
        picked = [j for j in jobs.values() if j.group == group]
    else:
        picked = [j for j in jobs.values()
                  if window_ms[0] <= j.start_ms <= window_ms[1]]
    p = Profile(jobs=len(picked))
    intervals = [(j.start_ms, j.end_ms) for j in picked if j.end_ms]
    if intervals:
        lo, hi = min(a for a, _ in intervals), max(b for _, b in intervals)
        p.job_s = covered(lo, hi, intervals) / 1000.0
    seen: set[int] = set()
    for j in picked:
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            p.stages += 1
            p.tasks += st.tasks
            for k, v in st.metrics.items():
                p.metrics[k] += v
    return p


def add(total: Profile, p: Profile) -> None:
    """Accumulate ``p`` into ``total``."""
    total.jobs += p.jobs
    total.stages += p.stages
    total.tasks += p.tasks
    total.job_s += p.job_s
    for k, v in p.metrics.items():
        total.metrics[k] += v
