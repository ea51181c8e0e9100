"""Structured Streaming driver: same normalizers, foreachBatch fan-out,
availableNow catch-up trigger (SURVEY.md §3.1 / Phase 3); stateful
session-window aggregation with watermark."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
    current_version,
    read_snapshot,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.tables import (
    load_table,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
    run_stream,
)

from .fdr_fixtures import EXPECTED_COUNTS, write_fixture_files


@pytest.mark.slow
@pytest.mark.parametrize("max_files", [1])
def test_stream_availablenow(spark, tmp_path, max_files):
    """availableNow drains the source over several micro-batches and lands
    every sink's fixture count; a restart on the same checkpoint with no
    new input commits nothing (every table keeps its version)."""
    src = write_fixture_files(str(tmp_path / "raw"))
    out = str(tmp_path / "ocsf")
    q = run_stream(
        spark,
        src,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=max_files,  # forces multiple micro-batches
    )
    q.awaitTermination(300)
    assert not q.isActive
    for key, expected in EXPECTED_COUNTS.items():
        n = read_snapshot(spark, f"{out}/{key}").count()
        assert n == expected, f"{key}: {n} != {expected}"
    versions = {key: current_version(spark, f"{out}/{key}") for key in EXPECTED_COUNTS}
    q2 = run_stream(spark, src, out, checkpoint=str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    for key, expected in EXPECTED_COUNTS.items():
        assert current_version(spark, f"{out}/{key}") == versions[key], key
        assert read_snapshot(spark, f"{out}/{key}").count() == expected, key


def test_run_stream_rejects_directory_append(spark, tmp_path):
    """The directory-append commit path is gone: snapshot=False raises,
    naming the batch path instead."""
    with pytest.raises(ValueError, match="run_batch"):
        run_stream(
            spark, str(tmp_path / "raw"), str(tmp_path / "ocsf"),
            str(tmp_path / "ckpt"), snapshot=False,
        )


@pytest.mark.slow
def test_stream_processing_time_cadence(spark, tmp_path):
    """The reference's continuous cadence (SQS 120 s buffering -> Firehose
    180 s; QOPCFDR_DataCollectionSupport_CFN.yaml:33-40) maps to a
    processingTime trigger: the query stays live, drains the source over
    several micro-batches, and appends without duplication."""
    import time

    src = write_fixture_files(str(tmp_path / "raw"))
    out = str(tmp_path / "ocsf")
    q = run_stream(
        spark,
        src,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # several files -> several micro-batches
        trigger={"processingTime": "1 seconds"},  # 120 s in production
    )
    try:
        deadline = time.time() + 240
        expected = EXPECTED_COUNTS["process_activity"]
        n = -1
        while time.time() < deadline:
            if current_version(spark, f"{out}/process_activity") is not None:
                n = read_snapshot(spark, f"{out}/process_activity").count()
            if n == expected and q.lastProgress and q.lastProgress["numInputRows"] == 0:
                break
            time.sleep(2)
        assert n == expected, f"drained {n} != {expected}"
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) > 1, "cadence should produce multiple micro-batches"
    finally:
        q.stop()
    # the continuous query appended each batch exactly once
    for key, exp in EXPECTED_COUNTS.items():
        assert read_snapshot(spark, f"{out}/{key}").count() == exp, key


@pytest.mark.slow
def test_stream_snapshot_mode(spark, tmp_path):
    """run_stream: every micro-batch commits each table as
    a manifest version — readers plan from snapshots (no directory
    listing), a restart with the same checkpoint reprocesses nothing,
    inline compaction produces a new version with NO maintenance window,
    and a reader pinned mid-stream is undisturbed by later batches and
    compactions."""
    import os
    import shutil

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        compact_snapshot,
        snapshot_files,
    )

    src = write_fixture_files(str(tmp_path / "raw"))
    for i in range(2):  # 4 source files -> 4 micro-batches
        shutil.copy(
            os.path.join(src, f"fdr_part{i}.gz"),
            os.path.join(src, f"fdr_part{i + 2}.gz"),
        )
    out = str(tmp_path / "ocsf")
    ckpt = str(tmp_path / "ckpt")
    q = run_stream(
        spark, src, out, checkpoint=ckpt,
        max_files_per_trigger=1,
        compact_every=4,
    )
    q.awaitTermination(300)
    assert not q.isActive
    for key, expected in EXPECTED_COUNTS.items():
        n = read_snapshot(spark, f"{out}/{key}").count()
        assert n == 2 * expected, f"{key}: {n} != {2 * expected}"
        # partition columns ride along as data columns in snapshot mode
        cols = set(read_snapshot(spark, f"{out}/{key}").columns)
        assert {"region", "accountId", "eventDay"} <= cols, key

    # the snapshot lake is SQL-queryable through registered views
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        register_snapshot_tables,
    )

    registered = register_snapshot_tables(spark, out)
    assert "ocsf_all" in registered and "process_activity" in registered
    n_sql = spark.sql("SELECT count(*) AS n FROM process_activity").collect()[0].n
    assert n_sql == 2 * EXPECTED_COUNTS["process_activity"]
    assert spark.sql("SELECT count(*) AS n FROM ocsf_all").collect()[0].n == 2 * sum(
        EXPECTED_COUNTS.values()
    )

    # pin a reader, then restart (no new data) + compact: the pinned
    # file list and the current counts must both be undisturbed
    probe = f"{out}/process_activity"
    pinned = read_snapshot(spark, probe)
    pinned_n = pinned.count()
    v_before = current_version(spark, probe)

    q2 = run_stream(spark, src, out, checkpoint=ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    assert current_version(spark, probe) == v_before  # nothing replayed

    compact_snapshot(spark, probe, target_files=1)
    assert len(snapshot_files(spark, probe)) == 1
    assert pinned.count() == pinned_n  # mid-compaction reader undisturbed
    assert read_snapshot(spark, probe).count() == 2 * EXPECTED_COUNTS["process_activity"]


@pytest.mark.slow  # 59 s: applyInPandasWithState soak, the gate's single largest test
def test_stateful_threshold_alerts(spark, tmp_path):
    """Custom cross-batch stateful operator (applyInPandasWithState):
    per-user cumulative error counts persist across micro-batches and the
    threshold alert fires exactly once per user, even when the crossing
    spans batches."""
    import json as _json
    import os
    import time as _time

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.stateful import (
        error_threshold_alerts,
    )

    src = tmp_path / "events"
    src.mkdir()
    # user 1: 3 errors in file A + 3 in file B (crosses 5 mid-stream);
    # user 2: 6 errors all in file A; user 3: only 2 errors (never alerts);
    # user 4: clicks only.
    def rows(uid, n_err, n_click, base):
        out = [
            {"user_id": uid, "ts": f"2024-06-10T0{base}:0{i}:00", "event_type": "error"}
            for i in range(n_err)
        ]
        out += [
            {"user_id": uid, "ts": f"2024-06-10T0{base}:1{i}:00", "event_type": "click"}
            for i in range(n_click)
        ]
        return out

    file_a = rows(1, 3, 2, 1) + rows(2, 6, 1, 2) + rows(3, 2, 2, 3) + rows(4, 0, 3, 4)
    file_b = rows(1, 3, 1, 5)
    for name, batch in [("a.json", file_a), ("b.json", file_b)]:
        with open(src / name, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in batch))
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
        os.utime(src / name)

    from pyspark.sql import functions as F

    schema = "user_id long, ts string, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    alerts = error_threshold_alerts(stream, threshold=5)
    q = (
        alerts.writeStream.format("memory")
        .queryName("alerts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {r.user_id: r for r in spark.sql("SELECT * FROM alerts").collect()}
    assert set(got) == {1, 2}
    # user 1 crossed the threshold only once batch B arrived: state
    # carried 3 errors across the batch boundary
    assert got[1].n_errors == 6 and str(got[1].first_error_ts).startswith("2024-06-10 01:00")
    assert got[2].n_errors == 6 and str(got[2].first_error_ts).startswith("2024-06-10 02:00")


def test_streaming_session_window(spark, sf_dir, tmp_path):
    """Stateful streaming sessionization (session_window + watermark over a
    file stream) produces exactly the batch session result."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    src = str(tmp_path / "stream_src")
    ev.select("event_id", "ts", "user_id", "value").repartition(4).write.json(src)

    schema = spark.read.json(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = {
        (r.user_id, r.w.start, r.w.end): r.n_events
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    # batch expectation from the SAME files (JSON serialization truncates
    # timestamps to millis; the comparison must share that input)
    expected = {
        (r.user_id, r.w.start, r.w.end): r.n_events
        for r in spark.read.schema(schema)
        .json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """Stream-stream inner join with watermarks and a time-range bound
    (state on both sides, late rows expired by the watermark): each user's
    high-value events join to events of the SAME user within the following
    6 hours.  The streaming result must equal the batch interval join
    over the same files."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 12)
    src = str(tmp_path / "src")
    ev.select("event_id", "ts", "user_id", "value").repartition(4).write.json(src)
    schema = spark.read.json(src).schema

    def sides(reader):
        base = reader.withColumn("ts", F.col("ts").cast("timestamp"))
        left = (
            base.filter(F.col("value") > 250)
            .select(
                F.col("user_id").alias("l_user"),
                F.col("event_id").alias("l_event"),
                F.col("ts").alias("l_ts"),
            )
            # watermark spans the whole 30-day corpus: batch files are not
            # time-ordered, so a shorter delay would (deterministically for
            # one layout, surprisingly after any refactor) drop rows that
            # arrive behind the advanced watermark and diverge from batch
            .withWatermark("l_ts", "35 days")
        )
        right = base.select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        ).withWatermark("r_ts", "35 days")
        return left, right

    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 6 HOURS"))
    )
    l_s, r_s = sides(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).json(src)
    )
    q = (
        l_s.join(r_s, cond)
        .select("l_user", "l_event", "r_event")
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = {tuple(r) for r in spark.sql("SELECT * FROM ssj").collect()}
    l_b, r_b = sides(spark.read.schema(schema).json(src))
    expected = {
        tuple(r)
        for r in l_b.join(r_b, cond).select("l_user", "l_event", "r_event").collect()
    }
    assert got == expected and len(got) > 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` suppresses
    re-deliveries of the same event_id arriving in LATER micro-batches
    (even with a different event time — the at-least-once re-delivery
    shape), while its state stays bounded by the watermark delay instead
    of growing forever like plain dropDuplicates.  All test timestamps
    sit inside one delay window, so the expected output is exactly the
    distinct key set regardless of file arrival order."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(seconds=10 * i), i % 3) for i in range(30)]
    dups = [
        (i, base + dt.timedelta(seconds=10 * i + 5), i % 3) for i in range(10)
    ]
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    ).repartition(3).write.json(src)
    spark.createDataFrame(
        dups, "event_id long, ts timestamp, user_id long"
    ).repartition(2).write.mode("append").json(src)

    schema = spark.read.json(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.sql("SELECT event_id FROM dedup_stream").collect()
    ids = sorted(r.event_id for r in got)
    assert ids == list(range(30))  # every key exactly once, dups suppressed


def test_streaming_ewma_matches_batch(spark, tmp_path):
    """The stateful streaming EWMA monitor must emit BIT-identical rows
    to the batch operator over the same feed: same power-of-two decay,
    same ascending slot-distance fold order, same rounding."""
    import datetime as dt
    import json as _json
    import os as _os

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.plans.relational import (
        RESAMPLE_SECONDS,
        events_ewma_anomaly,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.ewma import (
        run_ewma_monitor,
    )

    base = dt.datetime(2024, 5, 1)
    rows = []
    i = 0
    for s in range(45):
        for etype in ("api", "dns"):
            v = 20.0 + (s % 7) if not (etype == "api" and s == 30) else 400.0
            # two events in some slots: max-ts one must win
            for k in range(1 + (s % 2)):
                rows.append(
                    {
                        "event_id": i,
                        "ts": (base + dt.timedelta(seconds=s * RESAMPLE_SECONDS + 60 * k)).isoformat(),
                        "event_type": etype,
                        "value": v + k,
                        "slot": s,
                    }
                )
                i += 1

    import time as _time

    src = str(tmp_path / "ewma_src")
    _os.makedirs(src)
    for b, lo, hi in ((0, 0, 15), (1, 15, 30), (2, 30, 45)):
        with open(_os.path.join(src, f"b{b}.json"), "w") as f:
            for e in rows:
                if lo <= e["slot"] < hi:
                    f.write(_json.dumps({k: v for k, v in e.items() if k != "slot"}) + "\n")
        _time.sleep(0.05)  # force mtime order -> in-order micro-batches

    q = run_ewma_monitor(
        spark, src, str(tmp_path / "ckpt"), "ewma_eq", max_files_per_trigger=1
    )
    q.awaitTermination(300)
    q.stop()
    got = {
        (r.event_type, r.slot_start_epoch): (r.last_value, r.ewma, r.is_spike)
        for r in spark.sql("SELECT * FROM ewma_eq").collect()
    }

    spark.createDataFrame(
        [
            (e["event_id"], dt.datetime.fromisoformat(e["ts"]), 1, e["event_type"], e["value"], "{}")
            for e in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    want = {
        (r.event_type, r.slot_start_epoch): (r.last_value, r.ewma, r.is_spike)
        for r in events_ewma_anomaly(spark, str(tmp_path)).collect()
    }
    assert got == want and len(got) == 90
    assert sum(1 for v in got.values() if v[2] == 1) == 1  # the planted spike


@pytest.mark.slow
def test_streaming_ewma_restart_resumes_state(spark, tmp_path):
    """Two sequential availableNow runs over one checkpoint: the second
    run sees ONLY the files added after the first, restores the
    (slots, values) state from the checkpoint, and its emissions still
    equal the batch operator over the full feed — cross-restart state
    recovery, not just cross-batch."""
    import datetime as dt
    import json as _json
    import os as _os
    import time as _time

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.plans.relational import (
        RESAMPLE_SECONDS,
        events_ewma_anomaly,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.ewma import (
        run_ewma_monitor,
    )

    base = dt.datetime(2024, 6, 1)
    def mk(s):
        return {
            "event_id": s,
            "ts": (base + dt.timedelta(seconds=s * RESAMPLE_SECONDS)).isoformat(),
            "event_type": "cpu",
            "value": 5.0 + (s % 4) if s != 25 else 300.0,
        }

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src)
    with open(_os.path.join(src, "a.json"), "w") as f:
        for s in range(20):
            f.write(_json.dumps(mk(s)) + "\n")

    out_pq = str(tmp_path / "ewma_out")
    q1 = run_ewma_monitor(spark, src, ckpt, output_path=out_pq)
    q1.awaitTermination(300)
    q1.stop()
    first = read_snapshot(spark, out_pq).collect()
    assert len(first) == 20

    _time.sleep(0.05)
    with open(_os.path.join(src, "b.json"), "w") as f:
        for s in range(20, 32):
            f.write(_json.dumps(mk(s)) + "\n")

    q2 = run_ewma_monitor(spark, src, ckpt, output_path=out_pq)
    q2.awaitTermination(300)
    q2.stop()
    allrows = read_snapshot(spark, out_pq).collect()
    assert len(allrows) == 32  # run 2 appended ONLY the 12 new slots

    # crash after the sink committed but before the checkpoint did: drop
    # the last commit-log entry, so the next run replays that batch id —
    # the txn mark makes the replayed write a no-op
    commits = _os.path.join(ckpt, "commits")
    last = max(int(n) for n in _os.listdir(commits) if n.isdigit())
    for n in (str(last), f".{last}.crc"):
        if _os.path.exists(_os.path.join(commits, n)):
            _os.remove(_os.path.join(commits, n))
    v_before = current_version(spark, out_pq)
    q3 = run_ewma_monitor(spark, src, ckpt, output_path=out_pq)
    q3.awaitTermination(300)
    q3.stop()
    assert q3.exception() is None
    assert _os.path.exists(_os.path.join(commits, str(last)))  # it re-ran
    assert current_version(spark, out_pq) == v_before
    assert read_snapshot(spark, out_pq).count() == 32

    spark.createDataFrame(
        [(mk(s)["event_id"], dt.datetime.fromisoformat(mk(s)["ts"]), 1, "cpu", mk(s)["value"], "{}") for s in range(32)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    want = {
        (r.event_type, r.slot_start_epoch): (r.last_value, r.ewma, r.is_spike)
        for r in events_ewma_anomaly(spark, str(tmp_path)).collect()
    }
    got = {
        (r.event_type, r.slot_start_epoch): (r.last_value, r.ewma, r.is_spike)
        for r in allrows
    }
    assert got == want
    # slot 20's EWMA needs slots 4..19 from the FIRST run's state: if the
    # restart had lost state, its value would be batch-local and differ
    assert sum(v[2] for v in got.values()) == 1  # planted spike at s=25


def test_ewma_round4_matches_spark_half_up(spark):
    """The monitor's Python-side rounding must be Spark's F.round
    (BigDecimal HALF_UP), not Python round()'s half-even: on exactly
    representable dyadic half-cases (0.28125 -> 0.2813) the two modes
    diverge and would break the bit-identical streamed==batch contract."""
    from pyspark.sql import functions as F

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.ewma import (
        _round4,
    )

    cases = [0.28125, 0.65625, -0.28125, 0.00005, 1.23455, 2.5e-5, 0.1, 7.0]
    got = [_round4(v) for v in cases]
    want = [
        r.r
        for r in spark.createDataFrame([(v,) for v in cases], "v double")
        .select(F.round("v", 4).alias("r"))
        .collect()
    ]
    assert got == want
    assert _round4(0.28125) == 0.2813  # the half-even trap explicitly


def test_ewma_sink_replay_is_idempotent(spark, tmp_path, monkeypatch):
    """The EWMA monitor's foreachBatch sink is ``write_snapshot`` fenced
    on (checkpoint-keyed ``txn_app``, batch id): a micro-batch replayed
    after a crash (same batch id) is a no-op, and a write that died after
    staging its files but before the manifest commit stays invisible to
    readers and is committed exactly once by its replay."""
    import glob

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks import (
        snapshot as snap,
    )

    out = str(tmp_path / "out")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")

    def sink(batch_id):
        return snap.write_snapshot(
            spark, df, out, txn_app="ewma-test", txn_version=batch_id
        )

    assert sink(0) == 1
    assert sink(0) is None  # clean replay of a committed batch: no-op
    assert read_snapshot(spark, out).count() == 10

    # batch 1 dies between staging its files and the manifest commit
    def dying_commit(*a, **kw):
        raise RuntimeError("simulated crash before the manifest commit")

    monkeypatch.setattr(snap, "_commit", dying_commit)
    with pytest.raises(RuntimeError):
        sink(1)
    monkeypatch.undo()
    on_disk = glob.glob(f"{out}/data/*/*.parquet")
    assert len(on_disk) > len(snap.snapshot_files(spark, out))  # staged orphans
    assert current_version(spark, out) == 1
    assert read_snapshot(spark, out).count() == 10  # ... and invisible

    assert sink(1) == 2  # the replay commits
    assert sink(1) is None
    assert read_snapshot(spark, out).count() == 20
    assert sink(2) == 3
    assert read_snapshot(spark, out).count() == 30


def test_upsert_stream_replay_fenced_last_writer_wins(spark, tmp_path):
    """The streamed MERGE twin's foreachBatch body, driven directly:
    batch 0 creates the key-clustered table, later batches upsert
    (matched keys replaced, new keys inserted), a crash-replayed batch
    is a fenced no-op (same final state, no extra version), and the
    final table is one row per key, last-writer-wins."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        current_version,
        read_snapshot,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.upsert import (
        ENTITIES_TABLE,
        apply_upsert_batch,
    )

    out = str(tmp_path / "out")
    tbl = f"{out}/{ENTITIES_TABLE}"

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, tag long")

    b0 = batch([(1, 0), (2, 0), (3, 0)])
    b1 = batch([(2, 1), (4, 1)])       # updates 2, inserts 4
    b2 = batch([(1, 2), (4, 2), (5, 2)])

    apply_upsert_batch(spark, b0, out, 0, txn_app="t")
    # crash replay of batch 0 AFTER its commit: fenced, no new version
    apply_upsert_batch(spark, b0, out, 0, txn_app="t")
    assert current_version(spark, tbl) == 1
    apply_upsert_batch(spark, b1, out, 1, txn_app="t")
    apply_upsert_batch(spark, b1, out, 1, txn_app="t")  # replay mid-stream
    assert current_version(spark, tbl) == 2
    apply_upsert_batch(spark, b2, out, 2, txn_app="t")

    got = {(r.doc_id, r.tag) for r in read_snapshot(spark, tbl).collect()}
    assert got == {(1, 2), (2, 1), (3, 0), (4, 2), (5, 2)}
