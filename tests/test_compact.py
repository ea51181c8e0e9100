"""Snapshot compaction of the streaming maintenance twins
(streaming/compaction.py): crash-replay fencing, a bounded live file
count over a long run, and the file-count trigger."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.slow
def test_twin_compaction_crash_replay(spark, tmp_path, monkeypatch):
    """Twin snapshot compaction survives a mid-compaction crash: a
    compactor that dies after staging but before its manifest commit
    leaves the table at its prior version (orphans only); the twin's
    batch replay is still fenced; and the rescheduled compaction (the
    mark == batch_id condition holds on a last-batch replay) lands with
    identical rows and tightened file count."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks import (
        snapshot as snap,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.compaction import (
        compact_twin_tables,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.spanmaint import (
        CLEAN_TABLE,
        WINDOWS_TABLE,
        extend_span_clean,
    )

    out = str(tmp_path / "span")
    app = "span-crash-test"

    def batch(b):
        return spark.createDataFrame(
            [
                (b * 10 + i, " ".join(f"w{b}x{i}n{j}" for j in range(40)))
                for i in range(3)
            ],
            ["doc_id", "text"],
        )

    for b in range(3):
        extend_span_clean(spark, batch(b), out, b, txn_app=app)
    wpath = f"{out}/{WINDOWS_TABLE}"
    v_before = snap.current_version(spark, wpath)
    rows_before = sorted(
        (r.w, r.owner) for r in snap.read_snapshot(spark, wpath).collect()
    )

    # compaction dies between staging and commit
    real_commit = snap._commit

    def dying_commit(*a, **kw):
        raise RuntimeError("simulated crash mid-compaction")

    monkeypatch.setattr(snap, "_commit", dying_commit)
    try:
        compact_twin_tables(
            spark,
            out,
            [CLEAN_TABLE, WINDOWS_TABLE],
            txn_app=app,
            batch_id=2,
            canonical=WINDOWS_TABLE,
            compact_every=1,
        )
        raise AssertionError("compaction should have crashed")
    except RuntimeError:
        pass
    monkeypatch.setattr(snap, "_commit", real_commit)

    # table undisturbed: same version, same rows; staged files are
    # unreferenced orphans
    assert snap.current_version(spark, wpath) == v_before
    assert (
        sorted((r.w, r.owner) for r in snap.read_snapshot(spark, wpath).collect())
        == rows_before
    )

    # the streaming replay of the last batch: extend is fenced ...
    extend_span_clean(spark, batch(2), out, 2, txn_app=app)
    assert snap.current_version(spark, wpath) == v_before
    # ... and the rescheduled compaction fires (mark == batch_id) with
    # identical rows and a bounded file count
    done = compact_twin_tables(
        spark,
        out,
        [CLEAN_TABLE, WINDOWS_TABLE],
        txn_app=app,
        batch_id=2,
        canonical=WINDOWS_TABLE,
        compact_every=1,
    )
    assert done == [CLEAN_TABLE, WINDOWS_TABLE]
    assert (
        sorted((r.w, r.owner) for r in snap.read_snapshot(spark, wpath).collect())
        == rows_before
    )
    assert len(snap.snapshot_files(spark, wpath)) < 3
    # a replay of an OLDER batch can never recompact
    assert (
        compact_twin_tables(
            spark,
            out,
            [CLEAN_TABLE, WINDOWS_TABLE],
            txn_app=app,
            batch_id=1,
            canonical=WINDOWS_TABLE,
            compact_every=1,
        )
        == []
    )


@pytest.mark.slow
def test_twin_compaction_bounds_live_files_long_run(spark, tmp_path):
    """Long-run twin maintenance (20 micro-batches through spanmaint,
    compact_every=5): the compacted run holds MANY fewer live files in
    every snapshot table than the append-only run, the table contents
    stay identical, and the trickle probe still file-skips against the
    compacted (range-tightened) window index."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot,
        read_snapshot_pruned,
        snapshot_files,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.compaction import (
        compact_twin_tables,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.spanmaint import (
        CLEAN_TABLE,
        WINDOWS_TABLE,
        extend_span_clean,
    )

    n_batches, per_batch = 20, 4

    def batch(b):
        return spark.createDataFrame(
            [
                (
                    b * per_batch + i,
                    " ".join(f"t{b}x{i}n{j}" for j in range(45)),
                )
                for i in range(per_batch)
            ],
            ["doc_id", "text"],
        )

    def run(out, compact_every):
        app = f"span-longrun-{compact_every}"
        for b in range(n_batches):
            extend_span_clean(spark, batch(b), out, b, txn_app=app)
            # target_files=4 keeps the compacted index multi-file
            # (range-disjoint), so the probe's file-skip stays
            # observable at this toy scale
            compact_twin_tables(
                spark,
                out,
                [CLEAN_TABLE, WINDOWS_TABLE],
                txn_app=app,
                batch_id=b,
                canonical=WINDOWS_TABLE,
                compact_every=compact_every,
                target_files=4,
            )

    plain, compacted = str(tmp_path / "plain"), str(tmp_path / "compacted")
    run(plain, None)
    run(compacted, 5)

    def rows(out, table):
        return sorted(map(tuple, read_snapshot(spark, f"{out}/{table}").collect()))

    for t in (CLEAN_TABLE, WINDOWS_TABLE):
        assert rows(plain, t) == rows(compacted, t), t
        n_plain = len(snapshot_files(spark, f"{plain}/{t}"))
        n_comp = len(snapshot_files(spark, f"{compacted}/{t}"))
        # 20 appends accumulate >= 20 files; the compacted run is
        # bounded by (batches since last compaction) + compacted set
        assert n_plain >= n_batches, (t, n_plain)
        assert n_comp <= n_plain // 2, (t, n_comp, n_plain)

    # the trickle probe still prunes: a one-window probe against the
    # compacted index reads fewer files than the snapshot holds
    some = [
        r.w
        for r in read_snapshot(spark, f"{compacted}/{WINDOWS_TABLE}")
        .limit(1)
        .collect()
    ]
    pruned = read_snapshot_pruned(spark, f"{compacted}/{WINDOWS_TABLE}", some)
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert n_read < len(snapshot_files(spark, f"{compacted}/{WINDOWS_TABLE}"))



@pytest.mark.slow
def test_twin_compaction_file_count_trigger(spark, tmp_path):
    """max_live_files triggers compaction when the canonical table's
    live file count reaches the threshold — the self-scaling cadence:
    it fires when the manifest is crowded, regardless of batch number,
    and stays quiet while the file count is bounded."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot,
        snapshot_files,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.compaction import (
        compact_twin_tables,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.spanmaint import (
        CLEAN_TABLE,
        WINDOWS_TABLE,
        extend_span_clean,
    )

    out = str(tmp_path / "span")
    app = "span-filecount-test"
    threshold = 4
    fired_at = []
    for b in range(8):
        batch = spark.createDataFrame(
            [
                (b * 4 + i, " ".join(f"f{b}x{i}n{j}" for j in range(45)))
                for i in range(4)
            ],
            ["doc_id", "text"],
        )
        extend_span_clean(spark, batch, out, b, txn_app=app)
        done = compact_twin_tables(
            spark,
            out,
            [CLEAN_TABLE, WINDOWS_TABLE],
            txn_app=app,
            batch_id=b,
            canonical=WINDOWS_TABLE,
            max_live_files=threshold,
        )
        if done:
            fired_at.append(b)
        # the invariant the trigger exists for: the manifest never grows
        # far past the threshold plus one batch's own appends (bounded
        # loosely at 8 — appends-per-batch vary with parallelism)
        n_live = len(snapshot_files(spark, f"{out}/{WINDOWS_TABLE}"))
        assert n_live <= threshold + 8, (b, n_live)

    assert fired_at, "file-count trigger never fired"
    # content is untouched by however many compactions fired
    assert read_snapshot(spark, f"{out}/{WINDOWS_TABLE}").count() > 0
    total = read_snapshot(spark, f"{out}/{CLEAN_TABLE}").count()
    assert total == 32  # every doc of every batch, exactly once
