import os
import subprocess
import sys

from perfbench import run

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_refuses_to_run_outside_the_repository(tmp_path, capsys):
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        rc = run.main(["--workload", "full_refresh", "--seed", "1", "--seconds", "1"])
    finally:
        os.chdir(cwd)
    assert rc != 0
    assert capsys.readouterr().out == ""
    assert os.listdir(tmp_path) == []


def test_stop_children_ends_children_and_adopted_orphans():
    # in a separate process: the subreaper flag and the kill sweep must
    # not touch the test runner's own children
    script = (
        "import subprocess, time\n"
        "from perfbench import run\n"
        "run._become_subreaper()\n"
        "subprocess.Popen(['sleep', '60'])\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'])\n"
        "time.sleep(0.2)\n"
        "before = len(run._children())\n"
        "run._stop_children(grace_s=2)\n"
        "print(before, len(run._children()))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["2", "0"]
