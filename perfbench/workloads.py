"""The benchmark's two workloads, driven through the package's public entry
points (``pipeline.run_batch``, ``streaming.pipeline.run_stream``,
``sinks.snapshot.read_snapshot``, ``sinks.parquet.register_ocsf_tables``,
``registry.all_queries``).

See README.md for why each workload exists and which layer it bypasses.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import fdrgen
import tracing as tr
from lifecycle import tree_peak_rss_mb

# etl_batch input: BATCH_EVENTS events in 16 gzip objects (4 per core on
# the 4-core baseline machine), skewed mix, 1% malformed, five eventDays.
# Per-row work stays a minority of the job wall at any size whose runs fit
# the benchmark's time budget; README.md gives the measured share.
BATCH_EVENTS = 64_000
BATCH_OBJECTS = 16
BATCH_DAYS = 5
BATCH_MALFORMED = 0.01
# warm-up micro-batch of the streaming workload
WARM_EVENTS = 200

# etl_stream input: 300-line files with a uniform class mix and 20%
# malformed lines, one per second for the measured seconds, consumed on a
# 3 s processing-time trigger with the package's default cap of 10 files
# per micro-batch.
STREAM_EVENTS_PER_FILE = 300
STREAM_RATE_FILES = 1.0
STREAM_TRIGGER_S = 3
STREAM_DAYS = 3
STREAM_MALFORMED = 0.2
STREAM_DRAIN_TIMEOUT_S = 90.0

FDRGEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fdrgen.py")
TABLE_SINKS = fdrgen.TABLES
QUARANTINE_SINKS = tuple("_quarantine/" + q for q in fdrgen.QUARANTINES)

# Registry entries timed in the traced etl_batch run: those that need no
# inputs from outside the checkout and no lake of their own (see README.md
# for why ``ocsf_all_search`` is timed over the batch lake instead).
REGISTRY_QUERIES = ("ocsf_normalize_100k",)
QUERY_REPS = 2

# The Athena-style search over the ``ocsf_all`` union view of the batch
# lake (the SQL of the registry's ``ocsf_all_search``, grouped by class
# and eventDay).
LAKE_QUERY = """
SELECT class_name, eventDay AS event_day, count(*) AS n_events
FROM ocsf_all
GROUP BY class_name, eventDay
"""


class Failure(Exception):
    """Injected failure (test hook for the clean-exit test)."""


def _footer_counts(lake: str) -> dict[str, dict]:
    """rows/files/bytes per sink directory, and rows per (OCSF class,
    eventDay partition) under ``"class_days"``, from parquet footers and
    partition paths (no Spark job)."""
    import pyarrow.parquet as pq

    out: dict = {"class_days": {}}
    for sink in TABLE_SINKS + QUARANTINE_SINKS:
        rows = files = size = 0
        for path in glob.glob(os.path.join(lake, sink, "**", "*.parquet"), recursive=True):
            n = pq.read_metadata(path).num_rows
            rows += n
            files += 1
            size += os.path.getsize(path)
            if sink in fdrgen.TABLE_CLASS:
                day = path.split("eventDay=", 1)[1].split("/", 1)[0]
                key = (fdrgen.TABLE_CLASS[sink], day)
                out["class_days"][key] = out["class_days"].get(key, 0) + n
        out[sink] = {"rows": rows, "files": files, "bytes": size}
    return out


def _compare(counts: dict[str, int], exp: fdrgen.Expected) -> list[str]:
    """Mismatches between landed rows and the generator's expectation,
    including the conservation law: every non-blank line lands exactly
    once, in one of the 13 tables or one of the 4 quarantines."""
    errors = []
    for sink, got in counts.items():
        want = exp.sinks.get(sink.rsplit("/", 1)[-1], 0)
        if got != want:
            errors.append(f"{sink}: {got} rows, expected {want}")
    if sum(counts.values()) != exp.lines:
        errors.append(f"conservation: {sum(counts.values())} rows landed for {exp.lines} lines")
    return errors


class Context:
    def __init__(self, run, args, t_start: float) -> None:
        self.run = run
        self.args = args
        self.t_start = t_start
        self.work = run.work_dir
        self.errors: list[str] = []
        self.spans = tr.Spans()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {msg}", file=sys.stderr,
              flush=True)

    def maybe_fail(self, point: str) -> None:
        if self.args.inject_failure == point:
            raise Failure(f"injected failure at {point}")

    def start_spark(self):
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.session import get_spark

        t0 = time.perf_counter()
        java_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.local.dir": self.path("spark-local"),
            },
        )
        self.run.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.log("spark session started")
        return spark


# --------------------------------------------------------------------- #
# etl_batch
# --------------------------------------------------------------------- #
def etl_batch(ctx: Context) -> dict:
    """``run_batch`` from gzip objects to the partitioned lake, as a replay
    job runs it: the first job in a fresh JVM.  Its wall includes the
    per-process costs every new job pays again (normalizer expression
    building, the cast check's expression scan, code generation, JIT)."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark import pipeline

    # the corpus is written by a generator process while the JVM starts
    inp, expect_path = ctx.path("input"), ctx.path("expect.json")
    gen = ctx.run.spawn([
        sys.executable, FDRGEN, "batch", "--out", inp, "--expect", expect_path,
        "--seed", str(ctx.args.seed), "--events", str(BATCH_EVENTS),
        "--objects", str(BATCH_OBJECTS), "--mix", "skewed",
        "--malformed-share", repr(BATCH_MALFORMED), "--days", str(BATCH_DAYS)])
    spark = ctx.start_spark()
    if gen.wait() != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(expect_path, encoding="utf-8") as fh:
        written = json.load(fh)
    exp, gz_bytes = fdrgen.Expected.from_json(written["expect"]), written["gz_bytes"]
    setup_s = time.perf_counter() - ctx.t_start
    ctx.log(f"corpus written: {exp.lines} lines, {gz_bytes} gzip bytes")
    ctx.maybe_fail("after_setup")

    lake = ctx.path("lake")
    t = time.perf_counter()
    if ctx.args.trace:
        trace_window = _traced_run_batch(ctx, spark, inp, lake)
    else:
        pipeline.run_batch(spark, inp, lake)
    wall = time.perf_counter() - t
    ctx.log(f"batch job: {wall:.2f}s")
    ctx.maybe_fail("mid_run")

    counts = _footer_counts(lake)
    errs = _compare({k: counts[k]["rows"] for k in TABLE_SINKS + QUARANTINE_SINKS}, exp)
    if counts["class_days"] != dict(exp.class_days):
        errs.append("rows per (class, eventDay) partition differ from expected")
    ctx.errors += errs
    attempted, failed = 1, int(bool(errs))
    ctx.log("outputs checked")

    if ctx.args.trace:
        layers = _batch_layers(ctx, spark, inp, exp, gz_bytes, counts, wall, trace_window)
        queries, q_failed = _query_layers(ctx, spark, lake, exp)
        layers.update(queries)
        return _result(ctx, attempted + 1 + len(REGISTRY_QUERIES), failed + q_failed, layers)
    return _result(ctx, attempted, failed, {
        "setup_s": setup_s,
        "commit_p50_s": wall,
        "events_per_s": exp.lines / wall,
    })


def _timed_query(spark, name: str, build) -> dict:
    """Construct (``build()``) and execute (into the noop sink) one query
    ``QUERY_REPS`` times after an untimed warm-up pass; returns the medians
    as ``query.<name>.construct_s``, ``.execute_s`` and
    ``.shuffle_records``."""
    construct, execute, shuffled = [], [], []
    for rep in range(QUERY_REPS + 1):
        t0 = time.time()
        df = build()
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        if rep:
            construct.append(t1 - t0)
            execute.append(t2 - t1)
            shuffled.append(tr.stage_totals(spark, t1, t2)["shuffle_records"])
    return {
        f"query.{name}.construct_s": statistics.median(construct),
        f"query.{name}.execute_s": statistics.median(execute),
        f"query.{name}.shuffle_records": statistics.median(shuffled),
    }


def _query_layers(ctx: Context, spark, lake: str, exp: fdrgen.Expected) -> tuple[dict, int]:
    """The read side, timed and checked outside the batch job: the lake
    search over the batch lake (checked per (class, eventDay) against the
    generator) and each ``REGISTRY_QUERIES`` entry through
    ``registry.all_queries`` (checked against its ``oracle_sql`` in
    DuckDB).  Returns the metrics and the number of failed checks."""
    import duckdb

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.registry import (
        all_queries,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.parquet import (
        register_ocsf_tables,
    )

    def lake_search():
        register_ocsf_tables(spark, lake)
        return spark.sql(LAKE_QUERY)

    out = _timed_query(spark, "lake_search", lake_search)
    failed = 0
    got = {(r["class_name"], r["event_day"]): r["n_events"] for r in lake_search().collect()}
    if got != dict(exp.class_days):
        failed += 1
        ctx.errors.append("lake search: counts per (class, eventDay) differ from expected")
    entries = all_queries()
    for name in REGISTRY_QUERIES:
        build, oracle = entries[name]
        out.update(_timed_query(spark, name, lambda: build(spark, "")))
        df = build(spark, "")
        res = duckdb.sql(oracle)
        if _canonical(df.columns, df.collect()) != _canonical(res.columns, res.fetchall()):
            failed += 1
            ctx.errors.append(f"registry query {name}: result differs from its oracle_sql")
    ctx.log("queries timed and checked")
    return out, failed


def _canonical(columns: list[str], rows: list) -> list:
    """Rows as sorted tuples with their columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(row[i] for i in order) for row in rows), key=repr)


def _traced_run_batch(ctx: Context, spark, inp: str, lake: str) -> dict:
    """``run_batch`` with spans around the entry points ``process_batch``
    resolves in its own module, and a status-store window over the call."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark import pipeline

    s = ctx.spans
    with tr.patched(pipeline, "process_batch", s, "pipeline.process_batch"), \
            tr.patched(pipeline, "write_ocsf_tables", s, "parquet.write"), \
            tr.patched(pipeline, "classify", s, "router.classify_construct"), \
            tr.patched(pipeline, "split_cast_failures", s, "castcheck.split_construct"):
        t0 = time.time()
        pipeline.run_batch(spark, inp, lake)
        t1 = time.time()
    return tr.stage_totals(spark, t0, t1)


def _batch_layers(ctx, spark, inp, exp, gz_bytes, counts, op_s, window) -> dict:
    """Per-layer metrics of etl_batch: spans and the status-store window of
    the traced job, then cumulative prefixes of the lazy layers
    (read -> +classify -> +castcheck -> +normalize) timed into the noop
    sink, each layer's time being the difference of two prefixes.  The
    castcheck prefix must come before normalize: under ANSI casts the
    normalizers raise on the very rows castcheck diverts."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark import pipeline
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators import (
        castcheck,
        normalize,
        router,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import read_fdr

    s = ctx.spans
    proc = s.of("pipeline.process_batch")[0]
    write = s.of("parquet.write")[0]

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(fn) -> float:
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    def split_only(classified) -> list:
        # castcheck's row split without the normalizer projection
        frames = []
        for key in TABLE_SINKS:
            df = classified.filter(router.class_filter(key))
            pairs = castcheck.lossy_raw_casts(key, normalize.class_columns(key, df))
            flag, bad = castcheck.cast_failure_columns(pairs)
            frames += [df.filter(~flag), df.filter(flag).select(bad.alias("bad_fields"), "value")]
        return frames

    def fan_out(normalized: bool) -> None:
        # the persisted-input fan-out process_batch runs, into noop
        parsed = read_fdr(spark, inp).persist()
        try:
            classified = router.classify(parsed, spark)
            if normalized:
                tables, failures = pipeline.normalized_tables_with_cast_quarantine(classified)
                frames = [*tables.values(), failures]
            else:
                frames = split_only(classified)
            with ThreadPoolExecutor(max_workers=len(TABLE_SINKS)) as pool:
                list(pool.map(noop, frames))
        finally:
            parsed.unpersist()

    p_read = timed(lambda: noop(read_fdr(spark, inp)))
    p_classify = timed(lambda: noop(router.classify(read_fdr(spark, inp), spark)))
    p_castcheck = timed(lambda: fan_out(False))
    p_normalize = timed(lambda: fan_out(True))
    ctx.log("prefixes timed")

    rows = {k: counts[k]["rows"] for k in TABLE_SINKS + QUARANTINE_SINKS}
    q = lambda name: rows["_quarantine/" + name]  # noqa: E731
    layers = _zero_layers()
    layers.update({
        "session.start_s": ctx.session_start_s,
        "sources.read_parse_s": p_read,
        "sources.lines": exp.lines,
        "sources.gz_bytes": gz_bytes,
        "router.classify_s": p_classify - p_read,
        "router.classify_construct_s": s.total_s("router.classify_construct"),
        "router.mapped_rows": sum(rows[t] for t in TABLE_SINKS) + q("cast_failures"),
        "router.unmapped_rows": q("unmapped_events"),
        "castcheck.split_s": p_castcheck - p_classify,
        "castcheck.split_construct_s": s.total_s("castcheck.split_construct"),
        "castcheck.diverted_rows": q("cast_failures"),
        "normalize.s": p_normalize - p_castcheck,
        "parquet.write_s": write["end"] - write["start"],
        "parquet.files": sum(counts[t]["files"] for t in TABLE_SINKS),
        "parquet.bytes": sum(counts[t]["bytes"] for t in TABLE_SINKS),
        "pipeline.quarantine_write_s": proc["end"] - write["end"],
        "pipeline.jobs": window["jobs"],
        "pipeline.task_s": window["task_s"],
        "pipeline.shuffle_bytes": window["shuffle_bytes"],
        "pipeline.spill_bytes": window["spill_bytes"],
        "trace.op_s": op_s,
        "trace.wrapper_s": _wrapper_s(s),
        "process.peak_rss_mb": tree_peak_rss_mb(),
    })
    for t in TABLE_SINKS:
        layers[f"normalize.{t}.rows"] = rows[t]
    return layers


def _wrapper_s(spans: tr.Spans) -> float:
    """Time the span wrappers themselves took, outside the wrapped calls."""
    return sum(r["end"] - r["start"] - r["inner_s"] for r in spans.records if "inner_s" in r)


# --------------------------------------------------------------------- #
# etl_stream
# --------------------------------------------------------------------- #
def _stream_listener(batches: dict):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Records each micro-batch's start and row count; unlike
        ``recentProgress`` it keeps every batch of the run."""

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            # the batch's end comes from the checkpoint's commit log
            batches[p.batchId] = {"id": p.batchId, "start": _iso_epoch(p.timestamp),
                                  "rows": p.numInputRows}

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's own per-batch
    log in the checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _committed(checkpoint: str) -> dict[int, float]:
    """micro-batch id -> commit time: the modification time of the batch's
    entry in the checkpoint's commit log, written when the batch ends."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "commits", "*")):
        if os.path.basename(p).isdigit():
            out[int(os.path.basename(p))] = os.stat(p).st_mtime_ns / 1e9
    return out


def etl_stream(ctx: Context) -> dict:
    """``run_stream(snapshot=True)`` on a processing-time trigger, fed by
    the open-loop generator process after one warm-up micro-batch."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks import snapshot
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.pipeline import (
        run_stream,
    )

    spark = ctx.start_spark()
    seed = ctx.args.seed
    # warm-up: one small micro-batch through the same snapshot sink path,
    # into its own lake; the stream's start-up cost belongs to set-up
    warm_in = ctx.path("warm-in")
    fdrgen.make_batch_corpus(warm_in, seed + 7919, events=WARM_EVENTS, objects=1, mix="uniform",
                             malformed_share=STREAM_MALFORMED, days=STREAM_DAYS)
    q = run_stream(spark, warm_in, ctx.path("warm-lake"), ctx.path("warm-ck"), snapshot=True)
    ctx.run.queries.append(q)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"warm-up stream failed: {q.exception()}")
    setup_s = time.perf_counter() - ctx.t_start
    ctx.log("warm-up micro-batch done")
    ctx.maybe_fail("after_setup")

    batches: dict[int, dict] = {}
    listener = _stream_listener(batches)
    spark.streams.addListener(listener)
    inp, lake, ck = ctx.path("input"), ctx.path("lake"), ctx.path("ck")
    os.makedirs(inp)
    n_files = max(1, math.ceil(ctx.args.seconds * STREAM_RATE_FILES))
    gen_log = ctx.path("gen.jsonl")
    tracing = (tr.patched(snapshot, "write_snapshot", ctx.spans, "snapshot.write",
                          on_result=_note_commit) if ctx.args.trace else contextlib.nullcontext())
    with tracing:
        q = run_stream(spark, inp, lake, ck, snapshot=True,
                       trigger={"processingTime": f"{STREAM_TRIGGER_S} seconds"})
        ctx.run.queries.append(q)
        # processing-time triggers fire on epoch multiples of the interval;
        # the feed fills the window that closes at trigger ``due_by``, so
        # its files meet an idle stream and are committed by one batch
        due_by = math.ceil((time.time() + 1.0 + ctx.args.seconds) / STREAM_TRIGGER_S) \
            * STREAM_TRIGGER_S
        start = due_by - ctx.args.seconds + 0.2
        gen = ctx.run.spawn([
            sys.executable, FDRGEN, "stream", "--out", inp, "--log", gen_log,
            "--seed", str(seed), "--start", repr(start),
            "--rate", repr(STREAM_RATE_FILES), "--files", str(n_files),
            "--events-per-file", str(STREAM_EVENTS_PER_FILE),
            "--mix", "uniform", "--malformed-share", repr(STREAM_MALFORMED),
            "--days", str(STREAM_DAYS)])
        ctx.log("measured stream and generator started")
        ctx.maybe_fail("mid_run")
        gen.wait(timeout=start - time.time() + ctx.args.seconds + 60)
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(gen_log, encoding="utf-8") as fh:
            fed = [json.loads(line) for line in fh]
        pending = _drain(q, ck, {r["name"] for r in fed})
        t_end = time.time()
        ctx.log(f"stream drained: {len(_committed(ck))} batches committed")
        # progress events reach the listener asynchronously; wait for the
        # committed batches' records before stopping
        deadline = time.time() + 15
        while _committed(ck).keys() - batches.keys() and time.time() < deadline:
            time.sleep(0.1)
        q.stop()
    spark.streams.removeListener(listener)

    exp, gz_bytes = fdrgen.Expected(), 0
    for r in fed:
        exp.merge(fdrgen.Expected.from_json(r["expect"]))
        gz_bytes += r["gz_bytes"]
    attempted, failed = len(fed), len(pending)
    if pending:
        ctx.errors.append(f"{len(pending)} files not committed within {STREAM_DRAIN_TIMEOUT_S}s")
    counts = _snapshot_counts(spark, lake)
    errs = _compare(counts, exp)
    if errs:
        ctx.errors += errs
        failed = attempted
    ctx.log("outputs checked")

    where = _file_batches(ck)
    for bid, t in _committed(ck).items():
        batches[bid].update(end=t, wall=t - batches[bid]["start"])
    latencies = [batches[where[r["name"]]]["end"] - r["due"] for r in fed
                 if where.get(r["name"]) in batches]
    measured = [b for b in batches.values() if b["rows"] > 0]
    if ctx.args.trace:
        layers = _stream_layers(ctx, spark, measured, fed, where, latencies, counts, exp,
                                gz_bytes, lake, start, t_end)
        return _result(ctx, attempted, failed, layers)
    return _result(ctx, attempted, failed, {
        "setup_s": setup_s,
        "commit_p50_s": statistics.median(latencies),
        "events_per_s": sum(b["rows"] for b in measured) / sum(b["wall"] for b in measured),
    })


def _drain(q, ck: str, names: set[str]) -> list[str]:
    """Wait until every fed file is in a committed micro-batch; returns
    the files still pending at the deadline."""
    deadline = time.time() + STREAM_DRAIN_TIMEOUT_S
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        where, done = _file_batches(ck), _committed(ck)
        pending = [n for n in names if where.get(n) not in done]
        if not pending or time.time() > deadline:
            return pending
        time.sleep(0.25)


def _note_commit(rec, args, kwargs, result) -> None:
    rec["committed"] = result is not None


def _snapshot_counts(spark, lake: str) -> dict[str, int]:
    """Rows per sink through the snapshot reader (17 count jobs, run
    concurrently)."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot,
    )

    def count(sink: str) -> tuple[str, int]:
        return sink, read_snapshot(spark, os.path.join(lake, sink)).count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(pool.map(count, TABLE_SINKS + QUARANTINE_SINKS))


def _stream_layers(ctx, spark, measured, fed, where, latencies, counts, exp, gz_bytes, lake,
                   t0, t1) -> dict:
    """Per-layer metrics of etl_stream: the listener's micro-batches, the
    wrapped ``write_snapshot`` calls (one per sink per batch), the
    generator's log and a status-store window over the measured stream."""
    window = tr.stage_totals(spark, t0, t1)
    writes = ctx.spans.of("snapshot.write")
    # backlog: files already due at a batch's start but left for a later
    # batch
    by_id = {b["id"]: b for b in measured}
    backlog = 0
    for b in measured:
        waiting = [r for r in fed if r["due"] <= b["start"] and where.get(r["name"]) in by_id
                   and by_id[where[r["name"]]]["start"] > b["start"]]
        backlog = max(backlog, len(waiting))
    files = glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)
    q = lambda name: counts["_quarantine/" + name]  # noqa: E731
    layers = _zero_layers()
    layers.update({
        "session.start_s": ctx.session_start_s,
        "sources.lines": exp.lines,
        "sources.gz_bytes": gz_bytes,
        "router.mapped_rows": sum(counts[t] for t in TABLE_SINKS) + q("cast_failures"),
        "router.unmapped_rows": q("unmapped_events"),
        "castcheck.diverted_rows": q("cast_failures"),
        "pipeline.jobs": window["jobs"],
        "pipeline.task_s": window["task_s"],
        "pipeline.shuffle_bytes": window["shuffle_bytes"],
        "pipeline.spill_bytes": window["spill_bytes"],
        "snapshot.write_s": statistics.median(w["end"] - w["start"] for w in writes),
        "snapshot.commits": sum(1 for w in writes if w.get("committed")),
        "snapshot.files": len(files),
        "stream.batches": len(measured),
        "stream.batch_s_p50": statistics.median(b["wall"] for b in measured),
        "stream.rows_per_batch": statistics.median(b["rows"] for b in measured),
        "stream.backlog_files": backlog,
        "stream.lat_max_s": max(latencies),
        "gen.late_max_s": max(r["written"] - r["due"] for r in fed),
        "trace.op_s": statistics.median(latencies),
        "trace.wrapper_s": _wrapper_s(ctx.spans),
        "process.peak_rss_mb": tree_peak_rss_mb(),
    })
    for t in TABLE_SINKS:
        layers[f"normalize.{t}.rows"] = counts[t]
    return layers


# --------------------------------------------------------------------- #
END_TO_END_UNITS = {"setup_s": "s", "commit_p50_s": "s", "events_per_s": "1/s"}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.read_parse_s": "s",
    "sources.lines": "count",
    "sources.gz_bytes": "bytes",
    "router.classify_s": "s",
    "router.classify_construct_s": "s",
    "router.mapped_rows": "count",
    "router.unmapped_rows": "count",
    "castcheck.split_s": "s",
    "castcheck.split_construct_s": "s",
    "castcheck.diverted_rows": "count",
    "normalize.s": "s",
    **{f"normalize.{t}.rows": "count" for t in TABLE_SINKS},
    "parquet.write_s": "s",
    "parquet.files": "count",
    "parquet.bytes": "bytes",
    "pipeline.quarantine_write_s": "s",
    "pipeline.jobs": "count",
    "pipeline.task_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "snapshot.write_s": "s",
    "snapshot.commits": "count",
    "snapshot.files": "count",
    "stream.batches": "count",
    "stream.batch_s_p50": "s",
    "stream.rows_per_batch": "count",
    "stream.backlog_files": "count",
    "stream.lat_max_s": "s",
    "gen.late_max_s": "s",
    **{f"query.{q}.{m}": u for q in ("lake_search", *REGISTRY_QUERIES)
       for m, u in (("construct_s", "s"), ("execute_s", "s"), ("shuffle_records", "count"))},
    "trace.op_s": "s",
    "trace.wrapper_s": "s",
    "process.peak_rss_mb": "MB",
}


def _zero_layers() -> dict:
    """Every per-layer metric starts at 0: a layer the workload bypasses
    reports no work."""
    return {name: 0.0 for name in PER_LAYER_UNITS}


def _result(ctx: Context, attempted: int, failed: int, values: dict) -> dict:
    units = PER_LAYER_UNITS if ctx.args.trace else END_TO_END_UNITS
    if values.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(values.keys() ^ units.keys())} do not match "
                           "the declared set")
    values = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    return {"correct": not ctx.errors and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": values, "errors": ctx.errors}


WORKLOADS = {"etl_batch": etl_batch, "etl_stream": etl_stream}
