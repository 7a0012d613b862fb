import json
import os

from perfbench.trace import Span, assign_jobs, parse_event_log, snapshot, written


def _task(stage, run_ms, cpu_ns, shuffle=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


def _log(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "App ID": "local-1"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        _task(0, 100, 50_000_000, read=10),
        _task(0, 300, 150_000_000, read=30),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        # two jobs submitted from pool threads inside the second span;
        # job 2 lists stage 1 again but skips it
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2150, "Stage IDs": [1, 3]},
        _task(1, 200, 100_000_000, shuffle=64),
        _task(2, 100, 100_000_000),
        _task(3, 100, 100_000_000),
        # a job outside every span
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 5000, "Stage IDs": [4]},
        _task(4, 1000, 1),
    ]
    p = os.path.join(tmp_path, "local-1")
    with open(p, "w") as f:
        f.write("".join(json.dumps(e) + "\n" for e in events))
    return p


def test_jobs_are_assigned_by_submission_window(tmp_path):
    jobs = parse_event_log(_log(tmp_path))
    assert {j.job_id: j.tasks for j in jobs} == {0: 2, 1: 2, 2: 1, 3: 1}
    a = Span("a", "loop", "w", start_ms=900, end_ms=1900)
    b = Span("b", "loop", "w", start_ms=2000, end_ms=3000)
    unclaimed = assign_jobs([b, a], jobs, cores=2)
    assert [j.job_id for j in unclaimed] == [3]
    assert a.counters["jobs"] == 1 and a.counters["tasks"] == 2
    assert abs(a.counters["exec_run_s"] - 0.4) < 1e-9
    assert abs(a.counters["exec_cpu_s"] - 0.2) < 1e-9
    assert a.counters["input_bytes"] == 40
    assert abs(a.counters["busy_ratio"] - 0.4 / (1.0 * 2)) < 1e-9
    assert b.counters["jobs"] == 2 and b.counters["tasks"] == 3
    assert b.counters["shuffle_write_bytes"] == 64
    assert abs(b.counters["wall_s"] - 1.0) < 1e-9


def test_written_counts_new_and_changed_files(tmp_path):
    root = str(tmp_path)
    os.makedirs(f"{root}/layer")
    with open(f"{root}/layer/old.parquet", "wb") as f:
        f.write(b"x" * 10)
    with open(f"{root}/layer/keep.parquet", "wb") as f:
        f.write(b"x" * 7)
    before = snapshot([root])
    os.remove(f"{root}/layer/old.parquet")
    with open(f"{root}/layer/new.parquet", "wb") as f:
        f.write(b"y" * 100)
    with open(f"{root}/layer/keep.parquet", "ab") as f:
        f.write(b"z")
    for marker in ("_SUCCESS", ".new.parquet.crc"):
        open(f"{root}/layer/{marker}", "w").close()
    assert written(before, snapshot([root])) == (108, 2)
