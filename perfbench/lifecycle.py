"""Process lifetime for one benchmark run.

A run owns a Spark gateway JVM, possibly a generator process and
Structured Streaming queries, plus a work directory of lakes and
checkpoints.  ``Run.close`` releases all of them on every exit path
(success, exception, SIGTERM): it stops the queries, terminates and reaps
the generator, stops Spark, closes the gateway and waits for the JVM to
exit, reaps anything else still descended from this process, and removes
the work directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses; fields resume
        # after the last ')'
        fields = stat[stat.rfind(b")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Live descendants of ``pid`` (default: this process), via /proc."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and its descendants (the Python process plus the gateway JVM)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _terminate(proc: subprocess.Popen, timeout: float) -> None:
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)


class Run:
    """Owner of every resource one benchmark run creates."""

    def __init__(self, work_dir: str) -> None:
        self.work_dir = work_dir
        self.spark = None
        self.queries: list = []
        self.procs: list[subprocess.Popen] = []
        os.makedirs(work_dir, exist_ok=True)

    def __enter__(self) -> "Run":
        def _on_term(signum, _frame):
            raise SystemExit(128 + signum)

        self._old_term = signal.signal(signal.SIGTERM, _on_term)
        return self

    def __exit__(self, *exc) -> None:
        try:
            self.close()
        finally:
            signal.signal(signal.SIGTERM, self._old_term)

    def spawn(self, argv: list[str]) -> subprocess.Popen:
        proc = subprocess.Popen(argv, stdin=subprocess.DEVNULL, stdout=sys.stderr)
        self.procs.append(proc)
        return proc

    def close(self) -> None:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        errors = []
        for q in self.queries:
            try:
                q.stop()
            except Exception as ex:  # a failed query still has to release the rest
                errors.append(f"query stop: {ex!r}")
        for proc in self.procs:
            _terminate(proc, 10)
        if self.spark is not None:
            self._stop_spark(errors)
        # anything still descended from us (a JVM the gateway lost track
        # of, a forked worker) is ours to end
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        deadline = time.time() + 15
        while descendants() and time.time() < deadline:
            self._reap()
            time.sleep(0.1)
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self._reap()
        shutil.rmtree(self.work_dir, ignore_errors=True)
        for e in errors:
            print("perfbench: cleanup: " + e, file=sys.stderr)

    def _stop_spark(self, errors: list[str]) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        except Exception as ex:
            errors.append(f"spark.stop: {ex!r}")
        self.spark = None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as ex:
                errors.append(f"gateway shutdown: {ex!r}")
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway server exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(20)
            except subprocess.TimeoutExpired:
                _terminate(proc, 10)

    @staticmethod
    def _reap() -> None:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return
