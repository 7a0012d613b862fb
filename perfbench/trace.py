"""Spans recorded from the benchmark side, and the Spark work behind them.

A span is one call into a layer of the program, timed by the benchmark
around that call. Spark's own event log (switched on before the JVM
starts) supplies the work: each job is assigned to the span whose
wall-clock window contains the job's submission time. Submission time
is used rather than job groups because the program submits jobs from
its own thread pools, and under PySpark's pinned-thread mode those
threads do not inherit a thread-local job group.

Bytes and files written by a span come from diffing snapshots of the
directories the span may write to.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "wall_s",
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_write_bytes",
    "input_bytes",
    "busy_ratio",
)


@dataclass
class Span:
    name: str
    phase: str  # "setup", "loop" or "tour"
    workload: str
    start_ms: float
    end_ms: float = 0.0
    bytes_written: int | None = None
    files_written: int | None = None
    counters: dict = field(default_factory=dict)


def snapshot(roots: list[str]) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every data or metadata file under
    ``roots``; checksum sidecars (dot files) and ``_SUCCESS`` markers
    are not counted."""
    out = {}
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                if n.startswith(".") or n == "_SUCCESS":
                    continue
                p = os.path.join(dirpath, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present in ``after`` that are new or changed
    since ``before``."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(size for size, _ in new), len(new)


def tree_bytes(roots: list[str]) -> int:
    return sum(size for size, _ in snapshot(roots).values())


class Tracer:
    """Collects spans in memory. A disabled tracer records nothing and
    takes no snapshots, so untraced runs pay only a context manager."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.phase = "setup"
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, watch: list[str] | None = None):
        if not self.enabled:
            yield
            return
        before = snapshot(watch) if watch else None
        s = Span(name, self.phase, self.workload, time.time() * 1000.0)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            if watch:
                s.bytes_written, s.files_written = written(before, snapshot(watch))
            self.spans.append(s)


@dataclass
class Job:
    job_id: int
    submit_ms: float
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs with their task totals from every event log in ``log_dir``
    (one file per SparkContext the run started)."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        jobs.extend(parse_event_log(path))
    return jobs


def parse_event_log(path: str) -> list[Job]:
    by_id: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                by_id[jid] = Job(jid, float(ev["Submission Time"]))
                # a stage listed by several jobs ran in the first of them;
                # the later ones skip it
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = min(jid, stage_job.get(sid, jid))
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        job = by_id.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            continue
        m = ev.get("Task Metrics") or {}
        job.tasks += 1
        job.exec_run_s += m.get("Executor Run Time", 0) / 1e3
        job.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return list(by_id.values())


def assign_jobs(spans: list[Span], jobs: list[Job], cores: int) -> list[Job]:
    """Fill each span's counters from the jobs submitted inside its
    window; returns the jobs no span claimed."""
    order = sorted(spans, key=lambda s: s.start_ms)
    unclaimed = []
    for s in order:
        s.counters = {c: 0 for c in COUNTERS}
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        owner = next((s for s in order if s.start_ms <= j.submit_ms <= s.end_ms), None)
        if owner is None:
            unclaimed.append(j)
            continue
        c = owner.counters
        c["jobs"] += 1
        c["tasks"] += j.tasks
        c["exec_run_s"] += j.exec_run_s
        c["exec_cpu_s"] += j.exec_cpu_s
        c["shuffle_write_bytes"] += j.shuffle_write_bytes
        c["input_bytes"] += j.input_bytes
    for s in order:
        wall = (s.end_ms - s.start_ms) / 1e3
        s.counters["wall_s"] = wall
        s.counters["busy_ratio"] = s.counters["exec_run_s"] / (wall * cores) if wall > 0 else 0.0
    return unclaimed
