import shutil
import subprocess
import sys
import time

import run


def test_stop_session_reaches_processes_that_left_the_group():
    # like Spark's Python worker daemon: a grandchild in its own process group
    code = ("import subprocess, time; subprocess.Popen([{exe!r}, '-c', "
            "'import os, time; os.setpgid(0, 0); time.sleep(60)']); time.sleep(60)")
    proc = subprocess.Popen([sys.executable, "-c", code.format(exe=sys.executable)],
                            start_new_session=True)
    try:
        deadline = time.monotonic() + 10
        while len(run.session_pids(proc.pid)) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert len(run.session_pids(proc.pid)) == 2
        run.stop_session(proc.pid)
        assert run.session_pids(proc.pid) == []
    finally:
        proc.kill()
        proc.wait(timeout=10)


def test_without_the_package_the_run_fails_and_prints_no_result(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "movielens_cli", "--seed", "1",
         "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""
    assert not (tmp_path / ".perfbench").exists()
