"""The benchmark leaves no process and no work directory behind: not on
success, not when a workload raises mid-run, not on SIGTERM.

Each case runs ``perfbench/run.py`` as a subprocess whose environment
carries a unique tag; every process it starts (the gateway JVM, the feed
generator) inherits that environment, so after the command returns no
process on the machine may still carry the tag.

Run from the repository root:  python3 -m pytest perfbench/tests -q
(about four minutes: each case starts its own Spark JVM).
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(REPO, "perfbench", "run.py")
TIMEOUT_S = 300


def _tagged_pids(tag: str) -> list[int]:
    needle = f"PERFBENCH_TEST_TAG={tag}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def _start(workload: str, *extra: str) -> tuple[subprocess.Popen, str]:
    tag = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_TAG=tag)
    proc = subprocess.Popen(
        [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "2",
         "--trace", "0", *extra],
        cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return proc, tag


def _assert_clean(proc: subprocess.Popen, tag: str) -> None:
    assert proc.poll() is not None
    survivors = _tagged_pids(tag)
    assert survivors == [], f"processes left running: {survivors}"
    work = os.path.join(REPO, ".perfbench_work", f"{proc.args[3]}-{proc.pid}")
    assert not os.path.exists(work), f"work directory left behind: {work}"


def test_success_prints_result_and_leaves_nothing():
    proc, tag = _start("etl_stream")
    out, err = proc.communicate(timeout=TIMEOUT_S)
    assert proc.returncode == 0, err[-4000:]
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == {"setup_s", "commit_p50_s", "events_per_s"}
    _assert_clean(proc, tag)


@pytest.mark.parametrize("workload,point", [("etl_stream", "mid_run"),
                                            ("etl_batch", "after_setup")])
def test_injected_failure_exits_nonzero_and_leaves_nothing(workload, point):
    proc, tag = _start(workload, "--inject-failure", point)
    out, err = proc.communicate(timeout=TIMEOUT_S)
    assert proc.returncode != 0
    assert "injected failure" in err
    assert '"correct"' not in out
    _assert_clean(proc, tag)


def test_sigterm_mid_stream_leaves_nothing():
    proc, tag = _start("etl_stream")
    deadline = time.time() + TIMEOUT_S
    for line in proc.stderr:  # wait until the generator and query run
        if "generator started" in line or time.time() > deadline:
            break
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=TIMEOUT_S)
    assert proc.returncode != 0
    assert '"correct"' not in out
    _assert_clean(proc, tag)
