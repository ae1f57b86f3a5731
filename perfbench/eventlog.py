"""Reads Spark's uncompressed JSON event log into per-window job accounting.

Only three event kinds are parsed (job start/end, stage completed); every
other line is skipped by a prefix test before ``json.loads``, which keeps a
~50 MB log to a couple of seconds.

A window is a wall-clock interval in epoch milliseconds (the Spark driver and
the event log share the host clock). A job belongs to the window its
submission time falls in, or is named by id (the ids of a job group, read
from ``statusTracker``). Within a window:

- ``busy_s`` is the union of the jobs' [submission, completion] spans;
- ``driver_only_s`` is the window's length minus ``busy_s`` -- planning,
  codegen, py4j and driver loops while no job runs;
- ``executor_cpu_s`` and ``shuffle_write_mb`` sum the stage accumulables of
  the window's jobs.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_PREFIXES = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageCompleted"',
)


@dataclass
class Job:
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    cpu_ns: int = 0
    run_ms: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(ev["Submission Time"], None, list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
            st = self.stages.setdefault(info["Stage ID"], Stage())
            # every attempt of a stage did real work: sum them
            st.cpu_ns += int(acc.get("internal.metrics.executorCpuTime") or 0)
            st.run_ms += int(acc.get("internal.metrics.executorRunTime") or 0)
            st.shuffle_write_bytes += int(
                acc.get("internal.metrics.shuffle.write.bytesWritten") or 0
            )

    def window(self, start_ms: float, end_ms: float) -> dict[str, float]:
        """Accounting of the jobs submitted within [start_ms, end_ms]."""
        jobs = [j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms]
        return self._summary(jobs, start_ms, end_ms)

    def window_of_jobs(self, job_ids, start_ms: float, end_ms: float) -> dict[str, float]:
        """Accounting of the named jobs, over the window they ran in."""
        jobs = [self.jobs[i] for i in job_ids if i in self.jobs]
        return self._summary(jobs, start_ms, end_ms)

    def _summary(self, jobs: list[Job], start_ms: float, end_ms: float) -> dict[str, float]:
        spans = sorted(
            (j.submit_ms, min(j.end_ms if j.end_ms is not None else end_ms, end_ms))
            for j in jobs
        )
        busy = 0.0
        cur_s = cur_e = None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        stage_ids = {s for j in jobs for s in j.stage_ids}
        stages = [self.stages[s] for s in stage_ids if s in self.stages]
        return {
            "jobs": len(jobs),
            "busy_s": busy / 1000.0,
            "driver_only_s": max(0.0, (end_ms - start_ms) - busy) / 1000.0,
            "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "executor_run_s": sum(s.run_ms for s in stages) / 1000.0,
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
        }


def _event_files(path: str) -> list[str]:
    """A rolling log directory (``eventlog_v2_<app>/events_<n>_<app>``),
    or a single log file."""
    if os.path.isfile(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else 0

    return [os.path.join(path, f) for f in sorted(files, key=index)]


def parse(path: str) -> EventLog:
    log = EventLog()
    for fname in _event_files(path):
        with open(fname, encoding="utf-8") as f:
            for line in f:
                if line.startswith(_PREFIXES):
                    log.add(json.loads(line))
    return log


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])
