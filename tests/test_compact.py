"""The streamed snapshot writers' one start path and compaction
scheduler (streaming/compaction.py): each driver's writer identity,
crash-replay fencing, and a bounded live file count over a long run."""

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


def test_stream_writer_identities_pinned(spark, tmp_path, monkeypatch):
    """Every streamed snapshot writer commits under the identity its
    existing lakes' txn marks carry: "<prefix>-" + md5(checkpoint)[:12]
    with the driver's own prefix.  A changed prefix would let a replay
    into an existing lake commit twice.  Each driver's plan is built
    but no stream starts."""
    import hashlib
    import importlib

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
        compaction,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    (tmp_path / "src").mkdir()
    ckpt = str(tmp_path / "ckpt")
    twin_args = (spark, src, out, ckpt)
    drivers = [  # (prefix, module, driver, positional args)
        ("stream", "pipeline", "run_stream", twin_args),
        ("ewma", "ewma", "run_ewma_monitor", (spark, src, ckpt)),
        ("sketch", "sketch_maintenance", "run_sketch_maintenance", twin_args),
        ("pack", "packing", "run_packing_stream", twin_args),
        ("upsert", "upsert", "run_upsert_stream", twin_args),
        ("curate", "curation", "run_curation_stream", twin_args),
        ("phash", "phashmaint", "run_phash_stream", twin_args),
        ("spanmaint", "spanmaint", "run_span_stream", twin_args),
        ("graphmaint", "graphmaint", "run_graph_stream", twin_args),
        ("triplet", "tripletmaint", "run_triplet_stream", twin_args),
        ("annmaint", "annmaint", "run_ann_stream", twin_args),
        ("lm", "lmmaint", "run_lm_stream", twin_args),
        ("export", "export", "run_export_stream", twin_args),
    ]
    seen: list[str] = []
    identity = compaction.writer_identity

    def recording_identity(prefix, checkpoint):
        seen.append(identity(prefix, checkpoint))
        return seen[-1]

    monkeypatch.setattr(compaction, "writer_identity", recording_identity)
    monkeypatch.setattr(compaction, "_start", lambda *a: None)
    digest = hashlib.md5(ckpt.encode()).hexdigest()[:12]
    for prefix, module, name, args in drivers:
        run = getattr(importlib.import_module(f"{compaction.__package__}.{module}"), name)
        # the EWMA monitor commits snapshots only with an output path
        kwargs = {"output_path": out} if prefix == "ewma" else {}
        seen.clear()
        assert run(*args, **kwargs) is None, prefix
        assert seen == [f"{prefix}-{digest}"], prefix
