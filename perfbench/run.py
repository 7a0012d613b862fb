"""Lakehouse->RAG benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload full_refresh --seed 1 --seconds 10 --trace 0

Workloads: full_refresh and rag_serve (see
``perfbench/METRICS.md``). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it, starting with ``#``, are a readable
summary. Spark's own logging goes to standard error.

Everything the run writes stays under the current directory: scratch
data, Spark's local and temp directories and the event log live in
``.perfbench_tmp/run-<pid>`` (removed at exit), traces of traced runs
in ``.perfbench_out/traces``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time

DRIVER_MEMORY = "2g"
PR_SET_CHILD_SUBREAPER = 36


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["full_refresh", "rag_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _wipe_stale(tmp_root: str) -> None:
    """Remove scratch dirs left by runs whose process is gone."""
    if not os.path.isdir(tmp_root):
        return
    for d in os.listdir(tmp_root):
        pid = d.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(tmp_root, d), ignore_errors=True)


def _configure(tmp: str, root: str, traced: bool) -> dict[str, str]:
    """Environment for the Spark JVM and its Python workers; must be in
    place before the JVM starts."""
    dirs = {k: os.path.join(tmp, k) for k in ("local", "jvm", "events", "work")}
    for d in dirs.values():
        os.makedirs(d)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(traced).lower(),
        "spark.eventLog.dir": "file://" + dirs["events"],
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={dirs['jvm']}")
    os.environ.update({
        "PYSPARK_SUBMIT_ARGS": " ".join(args) + " pyspark-shell",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": dirs["jvm"],
        # the workers import the program (the chunker's pandas_udf)
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return dirs


def _become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's Python worker daemon outlives
    the JVM that started it by a moment) so ``_stop_children`` can wait
    for them too. Linux only; elsewhere a no-op."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process (own children and adopted
    orphans)."""
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name is in parentheses and may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def _stop_children(grace_s: float = 30.0) -> None:
    """End the Spark JVM (it would only exit once it reads EOF from this
    process's pipe, after this process is gone) and every process it
    started, and wait for each: SIGTERM, then SIGKILL after
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while kids := _children():
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lakehouse_to_rag_spark", "__init__.py")):
        print("perfbench: run from the repository root (lakehouse_to_rag_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    _become_subreaper()
    # a SIGTERM unwinds through the ``finally`` below instead of
    # leaving the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp_root = os.path.join(root, ".perfbench_tmp")
    _wipe_stale(tmp_root)
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    try:
        dirs = _configure(tmp, root, bool(args.trace))
        from perfbench.workloads import run

        result = run(
            args.workload, args.seed, args.seconds, bool(args.trace), dirs["work"],
            cores=len(os.sched_getaffinity(0)), event_log_dir=dirs["events"],
            trace_dir=os.path.join(root, ".perfbench_out", "traces"),
        )
    finally:
        _stop_children()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
