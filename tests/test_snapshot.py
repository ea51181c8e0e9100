"""Snapshot-isolated versioned tables (sinks/snapshot.py): append /
overwrite / time travel, reader pinning across compaction, commit
conflict retry, crash orphans, and retention-guarded vacuum."""

from __future__ import annotations

import posixpath

import pytest
from pyspark.sql import functions as F

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
    _manifest_path,
    compact_snapshot,
    current_version,
    last_txn_version,
    read_snapshot,
    snapshot_files,
    vacuum_snapshots,
    write_snapshot,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.fsutil import (
    _fs,
    _jpath,
    _write_text,
)


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_snapshot_append_overwrite_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = write_snapshot(spark, spark.range(0, 10).repartition(2), path)
    v2 = write_snapshot(spark, spark.range(10, 15).repartition(1), path)
    assert (v1, v2) == (1, 2)
    assert _ids(read_snapshot(spark, path)) == list(range(15))
    assert _ids(read_snapshot(spark, path, version=1)) == list(range(10))

    v3 = write_snapshot(
        spark, spark.range(100, 103), path, mode="overwrite"
    )
    assert current_version(spark, path) == v3 == 3
    assert _ids(read_snapshot(spark, path)) == [100, 101, 102]
    # time travel still sees the pre-overwrite state
    assert _ids(read_snapshot(spark, path, version=2)) == list(range(15))


def test_snapshot_reader_pinned_across_compaction(spark, tmp_path):
    """A planned DataFrame keeps its file list: compaction (a new
    version) must not change what an in-flight reader returns, and the
    old version stays readable afterwards (no maintenance window)."""
    path = str(tmp_path / "tbl")
    for lo, hi in ((0, 5), (5, 9), (9, 12)):
        write_snapshot(spark, spark.range(lo, hi).repartition(2), path)
    pinned = read_snapshot(spark, path)  # plans against v3's file list

    v4 = compact_snapshot(spark, path, target_files=1)
    assert v4 == 4
    assert len(snapshot_files(spark, path)) == 1  # 6 files -> 1
    assert _ids(pinned) == list(range(12))  # pinned reader undisturbed
    assert _ids(read_snapshot(spark, path)) == list(range(12))
    assert _ids(read_snapshot(spark, path, version=3)) == list(range(12))


def test_snapshot_txn_idempotent_replay(spark, tmp_path):
    """write_snapshot(txn_app, txn_version) is exactly-once per writer
    version: a replay of an already-committed micro-batch commits
    nothing, and the high-water mark survives both unrelated appends and
    compaction (manifests carry the txn map forward)."""
    path = str(tmp_path / "tbl")
    v = write_snapshot(spark, spark.range(0, 5), path, txn_app="w1", txn_version=0)
    assert v == 1 and last_txn_version(spark, path, "w1") == 0
    # replay of batch 0 -> skipped, no new version, no duplicate rows
    assert write_snapshot(spark, spark.range(0, 5), path, txn_app="w1", txn_version=0) is None
    assert current_version(spark, path) == 1
    assert _ids(read_snapshot(spark, path)) == list(range(5))
    # a DIFFERENT writer is not fenced by w1's mark
    assert write_snapshot(spark, spark.range(5, 8), path, txn_app="w2", txn_version=0) == 2
    # batch 1 commits; compaction carries both writers' marks forward
    assert write_snapshot(spark, spark.range(8, 10), path, txn_app="w1", txn_version=1) == 3
    compact_snapshot(spark, path, target_files=1)
    assert last_txn_version(spark, path, "w1") == 1
    assert last_txn_version(spark, path, "w2") == 0
    # replays of either batch after compaction are still fenced
    assert write_snapshot(spark, spark.range(0, 5), path, txn_app="w1", txn_version=1) is None
    assert write_snapshot(spark, spark.range(5, 8), path, txn_app="w2", txn_version=0) is None
    assert _ids(read_snapshot(spark, path)) == list(range(10))


def test_snapshot_commit_conflict_retries(spark, tmp_path):
    """A concurrent writer that claims the next version number forces a
    re-read-and-retry: the append must land at the version after the
    interloper's AND include the interloper's files in its merge."""
    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 5), path)

    # interloper: a real append that takes v2
    write_snapshot(spark, spark.range(5, 8), path)
    assert current_version(spark, path) == 2

    # our append retries past v2 and merges on top of it
    v = write_snapshot(spark, spark.range(8, 10), path)
    assert v == 3
    assert _ids(read_snapshot(spark, path)) == list(range(10))


def test_snapshot_orphans_invisible_then_vacuumed(spark, tmp_path):
    """Files from a crashed (uncommitted) write are invisible to readers;
    vacuum removes them once past the retention age — but a fresh orphan
    (age 0 < min_age) survives, protecting in-flight writers."""
    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 5).repartition(1), path)

    # simulate a crash: stage data files but never commit a manifest
    spark.range(100, 200).repartition(1).write.parquet(
        posixpath.join(path, "data", "deadbeef0000")
    )
    assert _ids(read_snapshot(spark, path)) == list(range(5))

    fresh = vacuum_snapshots(spark, path, keep_last=1, min_age_seconds=3600)
    assert fresh["files_deleted"] == 0  # retention guard holds
    aged = vacuum_snapshots(spark, path, keep_last=1, min_age_seconds=0)
    assert aged["files_deleted"] >= 1  # orphan dir reclaimed
    assert _ids(read_snapshot(spark, path)) == list(range(5))


def test_snapshot_vacuum_drops_old_versions_keeps_kept(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 6).repartition(3), path)
    compact_snapshot(spark, path, target_files=1)  # v2
    write_snapshot(spark, spark.range(6, 8), path)  # v3

    stats = vacuum_snapshots(spark, path, keep_last=2, min_age_seconds=0)
    assert stats["manifests_deleted"] == 1  # v1 dropped
    # v1's 3 small files are referenced by nothing kept -> gone
    assert stats["files_deleted"] == 3
    fs, _ = _fs(spark, path)
    assert not fs.exists(_jpath(spark, _manifest_path(path, 1)))
    # kept versions fully readable
    assert _ids(read_snapshot(spark, path)) == list(range(8))
    assert _ids(read_snapshot(spark, path, version=2)) == list(range(6))


def test_snapshot_manifest_race_lost_to_marker(spark, tmp_path):
    """If the next version's manifest appears between our read and our
    rename (simulated by planting it), the commit must NOT clobber it —
    it retries to the version after."""
    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 3), path)
    fs, _ = _fs(spark, path)
    # plant v2 by hand: an empty-file-list manifest
    _write_text(
        spark,
        fs,
        _manifest_path(path, 2),
        '{"version": 2, "mode": "overwrite", "files": []}',
    )
    v = write_snapshot(spark, spark.range(3, 6), path)
    assert v == 3
    # planted v2 (overwrite, no files) is the append's base: only new rows
    assert _ids(read_snapshot(spark, path)) == [3, 4, 5]


@pytest.mark.slow
def test_snapshot_soak_stream_with_concurrent_reader(spark, tmp_path, monkeypatch):
    """SOAK: 12 identical micro-batches through run_stream
    with inline compaction (every 3), each followed by vacuum (age 0),
    while a concurrent reader loop hammers read_snapshot on one table.  Invariants:
    (a) every concurrent read sees a COMMITTED version — its count is an
    exact multiple of the per-batch count, never a torn intermediate;
    (b) observed counts are non-decreasing (append-only table);
    (c) the final count is exactly 12x the per-batch count;
    (d) file counts stay BOUNDED: the live snapshot is compacted and
    vacuum keeps the on-disk data-file population near the live set
    instead of 12 appends + 4 compaction generations — for the
    quarantine tables as well as the 13 OCSF tables."""
    import functools
    import glob
    import json as _json
    import os
    import threading

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.sample import (
        FIXTURES,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
        compaction,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.pipeline import (
        run_stream,
    )

    from .fdr_fixtures import CORRUPT_LINE, EXPECTED_COUNTS

    import gzip

    src = str(tmp_path / "raw")
    os.makedirs(src)
    payload = "\n".join([*(_json.dumps(e) for e in FIXTURES), CORRUPT_LINE]) + "\n"
    n_batches = 12
    for i in range(n_batches):
        with gzip.open(os.path.join(src, f"fdr_{i:02d}.gz"), "wt") as f:
            f.write(payload)

    out = str(tmp_path / "ocsf")
    probe = f"{out}/process_activity"
    per_batch = EXPECTED_COUNTS["process_activity"]

    observed: list[int] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            try:
                if current_version(spark, probe) is None:
                    continue
                observed.append(read_snapshot(spark, probe).count())
            except BaseException as e:  # noqa: BLE001 - soak collects all
                errors.append(e)
                return

    # vacuum reaps every unreferenced file, however young (default keep_last=2)
    monkeypatch.setattr(
        compaction,
        "compact_twin_tables",
        functools.partial(compaction.compact_twin_tables, vacuum_min_age_seconds=0.0),
    )
    t = threading.Thread(target=reader, daemon=True)
    t.start()
    q = run_stream(
        spark, src, out, checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compact_every=3,
    )
    q.awaitTermination(600)
    stop.set()
    t.join(60)

    assert not errors, errors[:1]
    assert observed, "reader never completed a read"
    # (a) only committed versions visible: counts are whole batches
    assert all(n % per_batch == 0 for n in observed), sorted(set(observed))[:5]
    # (b) append-only monotonicity
    assert all(a <= b for a, b in zip(observed, observed[1:]))
    # (c) exactly-once total
    assert read_snapshot(spark, probe).count() == n_batches * per_batch
    # (d) bounded files: the live snapshot was compacted at batch 12
    # (12 appends would otherwise mean >= 12 live files)
    live = snapshot_files(spark, probe)
    assert len(live) <= 4, len(live)
    # the quarantines are compacted too: one corrupt line per batch, each
    # landed once, in a bounded live file set
    quarantine = f"{out}/_quarantine/corrupt_lines"
    assert read_snapshot(spark, quarantine).count() == n_batches
    assert len(snapshot_files(spark, quarantine)) <= 4
    # on-disk population is near the live set (vacuum pruned history;
    # keep_last=2 plus the final compaction generation may linger)
    on_disk = [
        p
        for p in glob.glob(f"{probe}/**/*.parquet", recursive=True)
        if "/_" not in p[len(probe):]
    ]
    assert len(on_disk) <= len(live) + 2 * n_batches // 3, (
        len(on_disk),
        len(live),
    )
    # every kept (time-travelable) version stays a whole-batch state
    v = current_version(spark, probe)
    assert read_snapshot(spark, probe, version=v - 1).count() % per_batch == 0


def test_snapshot_clustered_write_stats_and_pruned_read(spark, tmp_path):
    """write_snapshot(cluster_col=...) records per-file [min, max] on
    the key in the manifest; read_snapshot_pruned plans a probe read
    over ONLY the files whose range can hold a probe key — the
    streaming-index trickle-probe path — and returns the same rows the
    full snapshot read would."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _fs,
        _load_manifest,
        current_version,
        read_snapshot,
        read_snapshot_pruned,
        snapshot_files,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        df = spark.range(1000).selectExpr("id AS w", "id % 7 AS owner")
        write_snapshot(spark, df, path, cluster_col="w")
        df2 = spark.range(1000, 2000).selectExpr("id AS w", "id % 7 AS owner")
        write_snapshot(spark, df2, path, cluster_col="w")
    finally:
        spark.conf.unset("spark.sql.shuffle.partitions")
    fs, _ = _fs(spark, path)
    v = current_version(spark, path)
    manifest = _load_manifest(spark, fs, path, v)
    files = snapshot_files(spark, path)
    assert manifest.get("cluster_col") == "w"
    stats = manifest["stats"]
    assert set(stats) == set(files)  # every file carries a range
    # disjoint-within-append, sorted ranges
    for f, (lo, hi) in stats.items():
        assert lo <= hi

    # probe a key living in the first append's range only
    pruned = read_snapshot_pruned(spark, path, [5])
    full = read_snapshot(spark, path)
    got = {r.w for r in pruned.filter(F.col("w") == 5).collect()}
    want = {r.w for r in full.filter(F.col("w") == 5).collect()}
    assert got == want == {5}
    # and the pruned plan reads strictly fewer files than the snapshot
    n_pruned_files = pruned.select(F.input_file_name()).distinct().count()
    assert n_pruned_files < len(files)
    # no candidate file -> None, never a wrong empty scan
    assert read_snapshot_pruned(spark, path, [10_000_000]) is None


def test_probe_snapshot_three_regimes(spark, tmp_path, monkeypatch):
    """probe_snapshot, the twins' one keyed probe: keys under the cap
    read only the files whose [min, max] can hold one; keys over the
    cap skip the prune and read every file; no key (NULLs only) or a
    missing table returns None."""
    import query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot as snap

    path = str(tmp_path / "tbl")
    for lo in (0, 100, 200):  # one clustered file per append, disjoint
        write_snapshot(
            spark,
            spark.range(lo, lo + 100).selectExpr("id AS w"),
            path,
            cluster_col="w",
        )
    every = set(read_snapshot(spark, path).inputFiles())
    assert len(every) >= 3

    def keys(*ks):
        return spark.createDataFrame([(k,) for k in ks], "w long")

    pruned = snap.probe_snapshot(spark, path, keys(5, 5, None))
    assert len(pruned.inputFiles()) == 1
    assert set(pruned.inputFiles()) < every
    assert {r.w for r in pruned.filter(F.col("w") == 5).collect()} == {5}

    monkeypatch.setattr(snap, "PRUNE_MAX_KEYS", 2)
    assert set(snap.probe_snapshot(spark, path, keys(5, 6, 7)).inputFiles()) == every

    assert snap.probe_snapshot(spark, path, keys(None)) is None
    assert snap.probe_snapshot(spark, path, keys().limit(0)) is None
    assert snap.probe_snapshot(spark, str(tmp_path / "missing"), keys(5)) is None


def test_snapshot_clustered_compaction_tightens_ranges(spark, tmp_path):
    """Appends to a clustered snapshot each span the whole key range;
    compaction re-clusters (repartitionByRange over the union), so the
    per-file ranges become disjoint again and the SAME probe key set
    hits fewer files after compacting."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        compact_snapshot,
        read_snapshot,
        read_snapshot_pruned,
        snapshot_files,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # 4 appends over the SAME key range: every append's 4 files all
        # overlap the probe key's neighborhood range
        for b in range(4):
            df = spark.range(1000).selectExpr(
                f"(id * 4 + {b}) AS w", "id % 7 AS owner"
            )
            write_snapshot(spark, df, path, cluster_col="w")
        before = read_snapshot_pruned(spark, path, [17, 2000, 3999])
        n_before = before.select(F.input_file_name()).distinct().count()
        compact_snapshot(spark, path, target_files=4)
    finally:
        spark.conf.unset("spark.sql.shuffle.partitions")
    after = read_snapshot_pruned(spark, path, [17, 2000, 3999])
    n_after = after.select(F.input_file_name()).distinct().count()
    assert n_after < n_before
    assert n_after <= 3
    # compaction preserved the rows
    assert read_snapshot(spark, path).count() == 4000


@pytest.mark.slow
def test_pruned_read_survives_all_null_cluster_file(spark, tmp_path):
    """A staged file whose cluster column is entirely NULL records
    [null, null] stats (min/max skip NULLs); the pruned read must not
    crash ordering None against real keys and must always read such
    files (their NULL-keyed rows can never be proven absent)."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot_pruned,
        write_snapshot,
    )

    path = str(tmp_path / "t")
    write_snapshot(
        spark,
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"),
        path,
        cluster_col="k",
    )
    write_snapshot(
        spark,
        spark.createDataFrame([(None, 3), (None, 4)], "k string, v int"),
        path,
        cluster_col="k",
    )
    got = read_snapshot_pruned(spark, path, ["a"])
    vals = {r.v for r in got.collect()}
    assert 1 in vals  # the probed key's file is read
    assert {3, 4} <= vals  # the all-NULL file is never pruned
    # NULL keys themselves are droppable (match only NULL-range files)
    got2 = read_snapshot_pruned(spark, path, ["a", None])
    assert {r.v for r in got2.collect()} == vals


@pytest.mark.slow
def test_stage_files_stats_from_parquet_footers(spark, tmp_path, monkeypatch):
    """Clustered commits derive per-file [min, max] from parquet
    FOOTERS — one write pass per commit, no second scan job — and the
    footer stats are byte-identical to what the full-scan fallback
    computes, for an integer key with NULLs mixed in, an ASCII
    (md5-hex) string key, and an all-NULL append."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks import (
        snapshot as snap,
    )

    took_footer = []
    real = snap._footer_cluster_stats

    def spy(files, col):
        r = real(files, col)
        took_footer.append(r is not None)
        return r

    monkeypatch.setattr(snap, "_footer_cluster_stats", spy)

    def scan_stats(path, files, col):
        out = {}
        for rel in files:
            r = (
                spark.read.parquet(posixpath.join(path, rel))
                .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
                .collect()[0]
            )
            out[rel] = [r["lo"], r["hi"]]
        return out

    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        p1 = str(tmp_path / "ints")
        df = spark.createDataFrame(
            [(None, 0)]
            + [(i * 7 % 101, i) for i in range(200)]
            + [(None, 999)],
            "k int, v int",
        )
        write_snapshot(spark, df, p1, cluster_col="k")
        p2 = str(tmp_path / "strs")
        sdf = spark.range(100).selectExpr(
            "md5(cast(id as string)) AS k", "id AS v"
        )
        write_snapshot(spark, sdf, p2, cluster_col="k")
        write_snapshot(
            spark,
            spark.createDataFrame(
                [(None, -1), (None, -2)], "k string, v long"
            ),
            p2,
            cluster_col="k",
        )
    finally:
        spark.conf.unset("spark.sql.shuffle.partitions")

    # the footer path was taken on every clustered commit (no fallback)
    assert took_footer and all(took_footer)
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
    )

    for path in (p1, p2):
        fs, _ = _fs(spark, path)
        v = current_version(spark, path)
        manifest = _load_manifest(spark, fs, path, v)
        assert manifest["stats"] == scan_stats(
            path, manifest["files"], manifest["cluster_col"]
        )


def test_snapshot_changes_incremental_read(spark, tmp_path):
    """snapshot_changes reads ONLY the files the append commits in the
    window introduced (O(delta), asserted via inputFiles), tags each row
    with its commit version, skips compaction rewrites, stays correct
    for appends landing AFTER a compaction, and returns an empty
    schema-stable frame for an empty window."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        snapshot_changes,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 5).repartition(2), path)     # v1
    write_snapshot(spark, spark.range(5, 8).repartition(1), path)     # v2
    compact_snapshot(spark, path, target_files=1)                     # v3
    write_snapshot(spark, spark.range(8, 10).repartition(1), path)    # v4

    # since creation: every row exactly once, versioned by its append
    # (compaction's rewrite of rows 0..7 must NOT re-emit them)
    all_ch = snapshot_changes(spark, path, 0)
    got = {(r.id, r._commit_version) for r in all_ch.collect()}
    want = (
        {(i, 1) for i in range(5)}
        | {(i, 2) for i in range(5, 8)}
        | {(i, 4) for i in range(8, 10)}
    )
    assert got == want

    # a consumer checkpointed at v1 sees only v2 and v4's rows, and the
    # plan touches none of v1's files even though v3 rewrote everything
    tail = snapshot_changes(spark, path, 1)
    assert {(r.id, r._commit_version) for r in tail.collect()} == {
        (5, 2), (6, 2), (7, 2), (8, 4), (9, 4)
    }
    v1_files = {posixpath.basename(f) for f in snapshot_files(spark, path, 1)}
    read_files = {posixpath.basename(f) for f in tail.inputFiles()}
    assert not read_files & v1_files

    # checkpoint AT the compaction: the next append diffs against the
    # compacted file list, not the pre-compaction one
    post = snapshot_changes(spark, path, 3)
    assert {(r.id, r._commit_version) for r in post.collect()} == {
        (8, 4), (9, 4)
    }

    # empty window: no rows, table schema + version column intact
    empty = snapshot_changes(spark, path, 4, 4)
    assert empty.count() == 0
    assert empty.columns == ["id", "_commit_version"]


def test_snapshot_changes_overwrite_and_replay_fences(spark, tmp_path):
    """A plain overwrite inside the window raises (consumers must
    re-baseline); a fenced txn replay adds no version so the change
    feed never double-counts; from > to is rejected."""
    import pytest as _pytest

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        snapshot_changes,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 4), path, txn_app="w", txn_version=0)
    # replayed micro-batch: fenced, so the feed since 0 is still 4 rows
    assert (
        write_snapshot(spark, spark.range(0, 4), path, txn_app="w", txn_version=0)
        is None
    )
    assert snapshot_changes(spark, path, 0).count() == 4

    write_snapshot(spark, spark.range(100, 102), path, mode="overwrite")  # v2
    with _pytest.raises(ValueError, match="re-baseline"):
        snapshot_changes(spark, path, 0)
    # re-baselined at the overwrite: subsequent appends flow again
    write_snapshot(spark, spark.range(102, 104), path)                    # v3
    assert {(r.id, r._commit_version) for r in
            snapshot_changes(spark, path, 2).collect()} == {
        (102, 3), (103, 3)
    }

    with _pytest.raises(ValueError, match="from_version"):
        snapshot_changes(spark, path, 5, 3)


def test_delete_from_snapshot_rewrites_only_hit_files(spark, tmp_path):
    """DELETE is copy-on-write at FILE grain: files without matching
    rows ride into the new manifest untouched (same path, same stats);
    only hit files are rewritten; time travel still sees the deleted
    rows; NULL-predicate rows survive (SQL DELETE semantics); a
    no-match predicate commits nothing."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
        delete_from_snapshot,
    )

    path = str(tmp_path / "tbl")
    # two clustered appends with disjoint id ranges -> per-file stats
    write_snapshot(
        spark,
        spark.range(0, 10).withColumn("k", F.col("id")),
        path,
        cluster_col="k",
    )
    write_snapshot(
        spark,
        spark.range(100, 110).withColumn("k", F.col("id")),
        path,
        cluster_col="k",
    )
    before = set(snapshot_files(spark, path))
    fs, _ = _fs(spark, path)
    stats_before = _load_manifest(spark, fs, path, 2)["stats"]

    v = delete_from_snapshot(spark, path, "id IN (3, 7)", cluster_range=(0, 50))
    assert v == 3
    after = set(snapshot_files(spark, path))
    untouched = before & after
    # every file of the second append survived verbatim, stats intact
    low_files = {f for f in before if stats_before[f][1] <= 50}
    assert before - after == low_files  # only low-range files rewritten
    manifest = _load_manifest(spark, fs, path, 3)
    for f in untouched:
        assert manifest["stats"][f] == stats_before[f]
    assert manifest["deleted_from"] == 2
    assert _ids(read_snapshot(spark, path)) == [
        i for i in range(10) if i not in (3, 7)
    ] + list(range(100, 110))
    # time travel: pre-delete version still whole (until vacuum)
    assert len(_ids(read_snapshot(spark, path, version=2))) == 20

    # no-match: no commit, no version
    assert delete_from_snapshot(spark, path, "id = 99999") is None
    assert current_version(spark, path) == 3

    # NULL predicate rows survive: delete on a nullable column
    p2 = str(tmp_path / "tbl2")
    write_snapshot(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id long, s string"
        ),
        p2,
    )
    delete_from_snapshot(spark, p2, "s = 'a'")
    assert _ids(read_snapshot(spark, p2)) == [2, 3]


def test_delete_breaks_change_feed_and_prunes_candidates(spark, tmp_path):
    """snapshot_changes refuses to cross a delete commit (removals have
    no append-grain form) but a consumer re-baselined AT the delete
    version flows again (appends after the delete are readable)."""
    import pytest as _pytest

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        delete_from_snapshot,
        snapshot_changes,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(
        spark, spark.range(0, 8).withColumn("k", F.col("id")), path,
        cluster_col="k",
    )
    v = delete_from_snapshot(spark, path, "id = 2", cluster_range=(2, 2))
    with _pytest.raises(ValueError, match="re-baseline"):
        snapshot_changes(spark, path, 0)
    write_snapshot(
        spark, spark.range(8, 10).withColumn("k", F.col("id")), path,
        cluster_col="k",
    )
    assert {(r.id, r._commit_version) for r in
            snapshot_changes(spark, path, v).collect()} == {
        (8, v + 1), (9, v + 1)
    }


def test_snapshot_schema_evolution_additive(spark, tmp_path):
    """Appends may ADD columns: the merged schema rides the manifest,
    readers of any version see THAT version's schema (pre-evolution
    files surface NULL for later columns, no footer-merge at plan
    time), compaction and DELETE carry the schema through, the change
    feed unions across the evolution, and a type change raises."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        compact_snapshot,
        delete_from_snapshot,
        snapshot_changes,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 3), path)                      # v1
    write_snapshot(
        spark,
        spark.range(3, 5).withColumn("lang", F.lit("en")),
        path,
    )                                                                   # v2
    cur = read_snapshot(spark, path)
    assert cur.columns == ["id", "lang"]
    assert {(r.id, r.lang) for r in cur.collect()} == {
        (0, None), (1, None), (2, None), (3, "en"), (4, "en")
    }
    # time travel: v1 readers see v1's schema — no phantom column
    assert read_snapshot(spark, path, version=1).columns == ["id"]

    # change feed across the evolution: pre-evolution rows NULL-filled
    feed = snapshot_changes(spark, path, 0)
    assert {(r.id, r.lang, r._commit_version) for r in feed.collect()} == {
        (0, None, 1), (1, None, 1), (2, None, 1), (3, "en", 2), (4, "en", 2)
    }

    # compaction and DELETE preserve the evolved schema
    compact_snapshot(spark, path, target_files=1)                       # v3
    delete_from_snapshot(spark, path, "id = 0")                         # v4
    final = read_snapshot(spark, path)
    assert final.columns == ["id", "lang"]
    assert {(r.id, r.lang) for r in final.collect()} == {
        (1, None), (2, None), (3, "en"), (4, "en")
    }

    # type changes are rejected, atomically (no version committed)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="additive"):
        write_snapshot(
            spark,
            spark.range(9, 10).withColumn("lang", F.lit(7)),
            path,
        )
    assert current_version(spark, path) == 4


def test_snapshot_pre_schema_tables_stay_legacy(spark, tmp_path):
    """A table whose manifests predate schema tracking must never start
    recording one via append: its old files could hold columns the new
    writer doesn't know about, and an explicit-schema read would
    silently drop them.  (An overwrite replaces every file, so it MAY
    start tracking.)"""
    import json as _json
    import os as _os

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 3), path)
    # simulate a legacy manifest: strip the recorded schema in place
    mf = _os.path.join(path, "_snapshots", "v000000000001.json")
    m = _json.load(open(mf))
    del m["schema"]
    with open(mf, "w") as f:
        _json.dump(m, f)
    # drop the Hadoop local-FS checksum sidecar the rewrite invalidated
    crc = _os.path.join(path, "_snapshots", ".v000000000001.json.crc")
    if _os.path.exists(crc):
        _os.remove(crc)

    write_snapshot(spark, spark.range(3, 5), path)  # append: stays legacy
    fs, _ = _fs(spark, path)
    assert "schema" not in _load_manifest(spark, fs, path, 2)
    assert _ids(read_snapshot(spark, path)) == list(range(5))

    write_snapshot(spark, spark.range(7, 9), path, mode="overwrite")
    assert "schema" in _load_manifest(spark, fs, path, 3)


@pytest.mark.slow
def test_snapshot_cdc_consumer_follow_soak(spark, tmp_path):
    """SOAK the consumer protocol end-to-end: a writer commits 12
    appends with a compaction every 4 versions while a CONSUMER thread
    follows via snapshot_changes(checkpoint, current), checkpointing as
    it goes.  Invariants: (a) the consumer's accumulated rows equal the
    final table exactly — nothing lost at compaction boundaries,
    nothing duplicated across poll windows; (b) each row's recorded
    commit version is the version that introduced it; (c) the consumer
    never errors (compaction commits are skippable mid-poll)."""
    import threading

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        snapshot_changes,
    )

    path = str(tmp_path / "tbl")
    per_batch = 50
    n_batches = 12

    consumed: dict[int, int] = {}  # id -> commit version
    errors: list[BaseException] = []
    done = threading.Event()

    def consumer() -> None:
        ckpt = 0
        try:
            while True:
                cur = current_version(spark, path)
                if cur is not None and cur > ckpt:
                    rows = snapshot_changes(spark, path, ckpt, cur).collect()
                    for r in rows:
                        assert r.id not in consumed, f"dup {r.id}"
                        consumed[r.id] = r._commit_version
                    ckpt = cur
                if done.is_set() and ckpt == current_version(spark, path):
                    return
        except BaseException as e:  # noqa: BLE001 - soak collects all
            errors.append(e)

    t = threading.Thread(target=consumer, daemon=True)
    t.start()
    expect_version: dict[int, int] = {}
    v = 0
    for b in range(n_batches):
        v = write_snapshot(
            spark,
            spark.range(b * per_batch, (b + 1) * per_batch).repartition(2),
            path,
            txn_app="w",
            txn_version=b,
        )
        for i in range(b * per_batch, (b + 1) * per_batch):
            expect_version[i] = v
        if (b + 1) % 4 == 0:
            compact_snapshot(spark, path, target_files=1)
    done.set()
    t.join(120)
    assert not t.is_alive(), "consumer wedged"
    assert not errors, errors
    assert consumed == expect_version


def test_merge_into_snapshot_upsert_file_grain(spark, tmp_path):
    """MERGE replaces matched keys and inserts the rest in ONE version;
    only files holding a matched key are rewritten (disjoint-range
    clustered appends -> the untouched range's files survive verbatim,
    stats intact, pruned manifest-level before any read); duplicate
    TARGET keys collapse to the one source row; duplicate SOURCE keys
    raise; the txn fence makes replays no-ops."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
        merge_into_snapshot,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(
        spark,
        spark.range(0, 10).select(
            F.col("id"), F.lit("base").alias("tag")
        ),
        path,
        cluster_col="id",
    )
    write_snapshot(
        spark,
        spark.range(100, 110).select(
            F.col("id"), F.lit("base").alias("tag")
        ),
        path,
        cluster_col="id",
    )
    # a duplicate-key target row: id 3 appears twice pre-merge
    write_snapshot(
        spark,
        spark.range(3, 4).select(F.col("id"), F.lit("dup").alias("tag")),
        path,
        cluster_col="id",
    )
    fs, _ = _fs(spark, path)
    before = set(snapshot_files(spark, path))
    stats_before = _load_manifest(spark, fs, path, 3)["stats"]
    high = {f for f, rng in stats_before.items() if rng[0] >= 100}

    src = spark.createDataFrame(
        [(3, "merged"), (7, "merged"), (50, "merged")], "id long, tag string"
    )
    v = merge_into_snapshot(spark, path, src, "id", txn_app="m", txn_version=0)
    assert v == 4
    manifest = _load_manifest(spark, fs, path, 4)
    after = set(manifest["files"])
    # the 100..110 range holds no merge key: its files untouched
    assert high <= after
    for f in high:
        assert manifest["stats"][f] == stats_before[f]
    got = {(r.id, r.tag) for r in read_snapshot(spark, path).collect()}
    want = {(i, "base") for i in range(10) if i not in (3, 7)}
    want |= {(i, "base") for i in range(100, 110)}
    want |= {(3, "merged"), (7, "merged"), (50, "merged")}
    assert got == want  # id 3's two rows collapsed to one merged row

    # replayed micro-batch: fenced
    assert (
        merge_into_snapshot(spark, path, src, "id", txn_app="m", txn_version=0)
        is None
    )
    assert current_version(spark, path) == 4

    # duplicate SOURCE keys are rejected before any commit
    bad = spark.createDataFrame(
        [(1, "a"), (1, "b")], "id long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into_snapshot(spark, path, bad, "id")
    assert current_version(spark, path) == 4


def test_merge_schema_evolution_and_change_feed(spark, tmp_path):
    """A merge source may ADD columns (recorded nullable; pre-merge
    rows surface NULL); the change feed refuses to cross a merge and
    flows again from a re-baseline."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        merge_into_snapshot,
        snapshot_changes,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(
        spark,
        spark.range(0, 4).select(F.col("id"), F.lit("base").alias("tag")),
        path,
    )
    src = spark.createDataFrame(
        [(2, "merged", "en"), (9, "merged", "fr")],
        "id long, tag string, lang string",
    )
    v = merge_into_snapshot(spark, path, src, "id")
    got = {(r.id, r.tag, r.lang) for r in read_snapshot(spark, path).collect()}
    assert got == {
        (0, "base", None), (1, "base", None), (3, "base", None),
        (2, "merged", "en"), (9, "merged", "fr"),
    }
    with pytest.raises(ValueError, match="re-baseline"):
        snapshot_changes(spark, path, 0)
    write_snapshot(spark, spark.range(20, 22).select(
        F.col("id"), F.lit("base").alias("tag"),
        F.lit(None).cast("string").alias("lang"),
    ), path)
    assert {(r.id, r._commit_version) for r in
            snapshot_changes(spark, path, v).collect()} == {
        (20, v + 1), (21, v + 1)
    }


def test_snapshot_fsck_clean_and_detects_damage(spark, tmp_path):
    """fsck on a healthy clustered table reports no errors (and counts
    the crashed-writer orphan as vacuum work, not damage); deleting a
    referenced data file, corrupting recorded stats, and regressing a
    txn mark are each detected; strict mode raises."""
    import glob
    import json as _json
    import os as _os

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        snapshot_fsck,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(
        spark, spark.range(0, 10).withColumn("k", F.col("id")), path,
        cluster_col="k", txn_app="w", txn_version=0,
    )
    write_snapshot(
        spark, spark.range(10, 20).withColumn("k", F.col("id")), path,
        cluster_col="k", txn_app="w", txn_version=1,
    )
    # a crashed writer's orphan: staged, never committed
    spark.range(100, 110).repartition(1).write.parquet(
        posixpath.join(path, "data", "deadbeef0000")
    )
    rep = snapshot_fsck(spark, path, strict=True)  # strict: must not raise
    assert rep["errors"] == []
    assert rep["orphan_files"] >= 1 and rep["orphan_bytes"] > 0
    assert rep["versions"] == [1, 2]

    # damage 1: delete a referenced data file
    victim = snapshot_files(spark, path)[0]
    _os.remove(posixpath.join(path, victim))
    rep = snapshot_fsck(spark, path)
    assert rep["missing_files"] == [victim]
    with pytest.raises(IOError, match="missing_files"):
        snapshot_fsck(spark, path, strict=True)
    # restore by rewriting the table fresh for the next damage case
    write_snapshot(
        spark, spark.range(0, 20).withColumn("k", F.col("id")), path,
        mode="overwrite", cluster_col="k",
    )
    assert snapshot_fsck(spark, path)["errors"] == []

    # damage 2: tamper the recorded stats (the failure mode that makes
    # pruned reads silently drop rows)
    mf = sorted(glob.glob(posixpath.join(path, "_snapshots", "v*.json")))[-1]
    m = _json.load(open(mf))
    f0 = m["files"][0]
    m["stats"][f0] = [m["stats"][f0][0] + 1000, m["stats"][f0][1] + 1000]
    with open(mf, "w") as fh:
        _json.dump(m, fh)
    crc = posixpath.join(
        path, "_snapshots", "." + _os.path.basename(mf) + ".crc"
    )
    if _os.path.exists(crc):
        _os.remove(crc)
    rep = snapshot_fsck(spark, path)
    assert [x["file"] for x in rep["stats_mismatches"]] == [f0]

    # damage 3: txn regression across versions (manifest tampering /
    # mixed-generation restore)
    m["stats"][f0] = [m["stats"][f0][0] - 1000, m["stats"][f0][1] - 1000]
    m["txn"] = {"w": 0}  # earlier manifests recorded w: 1
    with open(mf, "w") as fh:
        _json.dump(m, fh)
    if _os.path.exists(crc):
        _os.remove(crc)
    rep = snapshot_fsck(spark, path)
    assert rep["txn_regressions"], rep


def test_schema_merge_tolerates_nullability_drift(spark, tmp_path):
    """Two batches of the same nested shape that disagree only on
    nullable/containsNull flags (a literal-built struct vs its parquet
    round-trip — every streamed OCSF batch does this) must append
    cleanly; an actual nested TYPE change still raises."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
    )

    path = str(tmp_path / "tbl")
    strict = spark.createDataFrame(
        [(1, ("a", ["x"]))],
        "id long, meta struct<name: string, tags: array<string>>",
    )
    write_snapshot(spark, strict, path)
    # round-trip through parquet flips nested nullability to True
    loose = read_snapshot(spark, path)
    assert write_snapshot(spark, loose, path) == 2  # must NOT raise
    assert read_snapshot(spark, path).count() == 2
    fs, _ = _fs(spark, path)
    assert "schema" in _load_manifest(spark, fs, path, 2)

    # a real nested type change is still rejected
    import pytest as _pytest

    changed = spark.createDataFrame(
        [(3, (7, ["x"]))],
        "id long, meta struct<name: bigint, tags: array<string>>",
    )
    with _pytest.raises(ValueError, match="additive"):
        write_snapshot(spark, changed, path)


def test_merge_tombstones_apply_cdc_batch(spark, tmp_path):
    """MERGE with delete_col applies a CDC batch atomically: tombstoned
    keys are removed (ALL their rows, via the same file-grain rewrite),
    live rows update/insert, the marker column never enters the table
    or its recorded schema, and a tombstone for an absent key is a
    no-op."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
        merge_into_snapshot,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        path,
        cluster_col="id",
    )
    cdc = spark.createDataFrame(
        [
            (2, "b2", False),   # update
            (3, None, True),    # delete
            (4, "d", False),    # insert
            (99, None, True),   # delete of absent key: no-op
        ],
        "id long, v string, is_deleted boolean",
    )
    v = merge_into_snapshot(spark, path, cdc, "id", delete_col="is_deleted")
    got = {(r.id, r.v) for r in read_snapshot(spark, path).collect()}
    assert got == {(1, "a"), (2, "b2"), (4, "d")}
    df = read_snapshot(spark, path)
    assert "is_deleted" not in df.columns
    fs, _ = _fs(spark, path)
    schema = _load_manifest(spark, fs, path, v)["schema"]
    assert [f["name"] for f in schema["fields"]] == ["id", "v"]

    with pytest.raises(ValueError, match="cannot be a merge key"):
        merge_into_snapshot(spark, path, cdc, "is_deleted", delete_col="is_deleted")


@pytest.mark.slow
def test_snapshot_model_based_verb_sequences(spark, tmp_path):
    """Model-based check of the whole verb set: three seeded random
    sequences of append / merge (with tombstones) / delete / compact /
    vacuum run against both the table and a dict model; after EVERY op
    the table must equal the model exactly.  This is the storage
    layer's equivalent of the oracle sweep — it explores verb
    interleavings no hand-written test enumerates (merge after
    compact, delete of a just-merged key, vacuum mid-sequence)."""
    import random

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        compact_snapshot,
        delete_from_snapshot,
        merge_into_snapshot,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        path = str(tmp_path / f"tbl{seed}")
        model: dict[int, int] = {}
        next_id = 0

        def fresh(n):
            nonlocal next_id
            rows = [(next_id + i, rng.randrange(1000)) for i in range(n)]
            next_id += n
            return rows

        def df_of(rows):
            return spark.createDataFrame(rows, "id long, v long")

        # seed the table
        rows = fresh(20)
        write_snapshot(spark, df_of(rows), path, cluster_col="id")
        model.update(dict(rows))

        for step in range(14):
            op = rng.choice(["append", "merge", "delete", "compact", "vacuum"])
            if op == "append":
                rows = fresh(rng.randrange(1, 8))
                write_snapshot(spark, df_of(rows), path, cluster_col="id")
                model.update(dict(rows))
            elif op == "merge":
                upd = [
                    (k, rng.randrange(1000), False)
                    for k in rng.sample(sorted(model), min(3, len(model)))
                ]
                ins = [(i, v, False) for i, v in fresh(rng.randrange(0, 3))]
                dels = [
                    (k, 0, True)
                    for k in rng.sample(sorted(model), min(2, len(model)))
                    if (k, rng.random()) and all(k != u[0] for u in upd)
                ]
                batch = upd + ins + dels
                if not batch:
                    continue
                merge_into_snapshot(
                    spark,
                    path,
                    spark.createDataFrame(
                        batch, "id long, v long, is_deleted boolean"
                    ),
                    "id",
                    delete_col="is_deleted",
                )
                for k, v, dead in batch:
                    if dead:
                        model.pop(k, None)
                    else:
                        model[k] = v
            elif op == "delete":
                m = rng.randrange(2, 6)
                delete_from_snapshot(spark, path, f"id % {m} = 0")
                model = {k: v for k, v in model.items() if k % m != 0}
            elif op == "compact":
                compact_snapshot(spark, path, target_files=2)
            else:
                vacuum_snapshots(spark, path, keep_last=2, min_age_seconds=0)
            got = {
                (r.id, r.v) for r in read_snapshot(spark, path).collect()
            }
            assert got == set(model.items()), (seed, step, op)


def test_rmw_commits_never_drop_concurrent_appends(spark, tmp_path, monkeypatch):
    """The lost-append anomaly: a read-modify-write commit (compaction,
    DELETE, MERGE) derives its output from version V; if an append
    lands at V+1 before the RMW commits, taking the next slot would
    silently drop the append's rows.  The expected_prev fence turns
    that into a re-derive: an interloper append injected between an
    RMW's staging and its commit must survive into the final table."""
    import query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot as snap

    # --- compaction vs append -----------------------------------------
    path = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(0, 10), path)

    orig_stage = snap._stage_files
    armed = {"on": True}

    def stage_with_interloper(spark_, fs_, df_, path_, *a, **k):
        out = orig_stage(spark_, fs_, df_, path_, *a, **k)
        if armed["on"]:
            armed["on"] = False  # the interloper's own write passes through
            write_snapshot(spark_, spark_.range(100, 105), path_)
        return out

    monkeypatch.setattr(snap, "_stage_files", stage_with_interloper)
    v = compact_snapshot(spark, path, target_files=1)
    # base 1, interloper 2, re-derived compaction 3 (the conflicted
    # attempt takes no version slot)
    assert v == 3
    assert _ids(read_snapshot(spark, path)) == list(range(10)) + list(
        range(100, 105)
    )

    # --- DELETE vs append: interloper's non-matching rows survive -----
    interloper_range = {"lo": 200, "hi": 205}

    def stage_with_ranged_interloper(spark_, fs_, df_, path_, *a, **k):
        out = orig_stage(spark_, fs_, df_, path_, *a, **k)
        if armed["on"]:
            armed["on"] = False
            write_snapshot(
                spark_,
                spark_.range(interloper_range["lo"], interloper_range["hi"]),
                path_,
            )
        return out

    monkeypatch.setattr(snap, "_stage_files", stage_with_ranged_interloper)
    armed["on"] = True
    snap.delete_from_snapshot(spark, path, "id >= 100 AND id < 200")
    assert _ids(read_snapshot(spark, path)) == list(range(10)) + list(
        range(200, 205)
    )

    # --- MERGE vs append: interloper's rows survive the upsert --------
    interloper_range["lo"], interloper_range["hi"] = 300, 303
    armed["on"] = True
    src = spark.range(0, 2).select(
        F.col("id"), F.lit(1).alias("extra")
    ).drop("extra").selectExpr("id")
    snap.merge_into_snapshot(spark, path, src, "id")
    assert _ids(read_snapshot(spark, path)) == list(range(10)) + list(
        range(200, 205)
    ) + list(range(300, 303))
