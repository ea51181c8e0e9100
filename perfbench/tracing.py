"""Tracing from outside the package, for the benchmark's traced run.

Three tools, none of which edits the package:

- ``Spans`` records named wall-clock spans (name, start, end) in
  memory; the run turns them into per-layer metrics when it ends.
- ``patched`` wraps a public function at the module attribute its caller
  resolves (``pipeline.write_ocsf_tables``, ``sinks.snapshot.write_snapshot``)
  so each call becomes a span, and restores it afterwards.
- ``stage_totals`` reads Spark's status store for the jobs and stages
  submitted inside a time window.  Job groups do not reach the Python
  threads that the package's thread pools start, so windows, not groups,
  attribute Spark work to a layer.
"""

from __future__ import annotations

import contextlib
import threading
import time


class Spans:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.records: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self.records.append(rec)

    def of(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.of(name))


@contextlib.contextmanager
def patched(module, attr: str, spans: Spans, span_name: str, on_result=None):
    """Replace ``module.attr`` with a wrapper that records one span per
    call (thread-safe: the package calls these from thread pools)."""
    original = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with spans.span(span_name) as rec:
            t = time.time()
            result = original(*args, **kwargs)
            rec["inner_s"] = time.time() - t
            if on_result is not None:
                on_result(rec, args, kwargs, result)
            return result

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, original)


def stage_totals(spark, t0: float, t1: float) -> dict:
    """Jobs, task time, shuffle (bytes and records) and spill of every
    stage Spark submitted in ``[t0, t1]`` (epoch seconds), read from the
    status store.  Call after the window's jobs have finished; the store is
    updated asynchronously, so this waits briefly for its event queue to
    drain."""
    time.sleep(0.3)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty = jvm.java.util.ArrayList()  # empty status filter = every status
    lo, hi = int(t0 * 1000), int(t1 * 1000)

    def _in_window(opt_date) -> bool:
        if not opt_date.isDefined():
            return False
        ms = opt_date.get().getTime()
        return lo <= ms <= hi

    jobs = 0
    it = store.jobsList(empty).iterator()
    while it.hasNext():
        if _in_window(it.next().submissionTime()):
            jobs += 1
    out = {"jobs": jobs, "task_s": 0.0, "shuffle_bytes": 0, "shuffle_records": 0,
           "spill_bytes": 0}
    quantiles = sc._gateway.new_array(jvm.double, 0)
    it = store.stageList(empty, False, False, quantiles, jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        s = it.next()
        if not _in_window(s.submissionTime()):
            continue
        out["task_s"] += s.executorRunTime() / 1000.0
        out["shuffle_bytes"] += s.shuffleWriteBytes()
        out["shuffle_records"] += s.shuffleWriteRecords()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out
