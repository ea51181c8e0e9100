"""Incremental LM maintenance (streaming/lmmaint.py): count-monoid
appends, merge-on-read serving, fold compaction, and exactly-once
replays."""

from __future__ import annotations

import hashlib
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
    current_version,
    read_snapshot,
    snapshot_files,
    write_snapshot,
)
from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.lmmaint import (
    BIG_TABLE,
    SCORES_TABLE,
    UNI_TABLE,
    extend_lm,
    fold_bigrams,
    fold_unigrams,
    run_lm_stream,
)

B1 = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "a cat and a dog"),
]
B2 = [
    (11, "the cat sat again"),
    (12, "something entirely novel here"),
]


def _write_batch(src: str, name: str, docs: list[tuple[int, str]]) -> None:
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    time.sleep(0.05)  # distinct file mtimes keep the source's batch order


def _uni_counts(spark, out) -> dict[str, int]:
    return {
        r.tok: r.c1
        for r in fold_unigrams(read_snapshot(spark, f"{out}/{UNI_TABLE}")).collect()
    }


def _scores(spark, out) -> dict[int, tuple[int, int, float]]:
    return {
        r.doc_id: (r.batch_id, r.n_tokens, r.mean_nll)
        for r in read_snapshot(spark, f"{out}/{SCORES_TABLE}").collect()
    }


def _batch_prefix_scores(spark, tmp_path, tag, corpus, scored_docs, order=2):
    """The batch-side yardstick: train_lm_model on the cumulative corpus,
    score_lm the batch's docs — what each streamed serve must equal."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.text import (
        score_lm,
        train_lm_model,
    )

    model = str(tmp_path / f"model_{tag}")
    train_lm_model(
        spark, spark.createDataFrame(corpus, ["doc_id", "text"]), model,
        order=order,
    )
    return {
        r.doc_id: (r.n_tokens, r.mean_nll)
        for r in score_lm(
            spark.createDataFrame(scored_docs, ["doc_id", "text"]), spark,
            model, order=order,
        ).collect()
    }


@pytest.mark.slow
def test_lm_stream_incremental_and_exactly_once(spark, tmp_path):
    """Each batch's streamed serve equals the batch train+score over the
    cumulative prefix (merge-on-read == denormalized model tables); a
    mid-stream fold compaction changes nothing; replays are fenced."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "lm")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(src, "b1.json", B1)
    q = run_lm_stream(spark, src, out, ckpt)
    assert q.awaitTermination(300), "stream did not drain in 300s"
    got = _scores(spark, out)
    want0 = _batch_prefix_scores(spark, tmp_path, "p0", B1, B1)
    assert {d: v[1:] for d, v in got.items()} == want0
    assert {v[0] for v in got.values()} == {0}

    # batch 2 scores against cumulative counts (incl. itself); the run is
    # due for compaction (batch_id 1 -> (1+1)%2 == 0), which must FOLD
    # the count tables without changing anything a reader sees
    _write_batch(src, "b2.json", B2)
    q2 = run_lm_stream(spark, src, out, ckpt, compact_every=2)
    assert q2.awaitTermination(300), "stream did not drain in 300s"
    got = _scores(spark, out)
    want1 = _batch_prefix_scores(spark, tmp_path, "p1", B1 + B2, B2)
    assert {d: v[1:] for d, v in got.items() if v[0] == 1} == want1
    # batch-0 scores are immutable facts: still the prefix-0 values
    assert {d: v[1:] for d, v in got.items() if v[0] == 0} == want0

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _fs as _snap_fs,
        _load_manifest,
    )

    for t in (UNI_TABLE, BIG_TABLE):
        fs, _ = _snap_fs(spark, f"{out}/{t}")
        v = current_version(spark, f"{out}/{t}")
        m = _load_manifest(spark, fs, f"{out}/{t}", v)
        assert "compacted_from" in m, t

    # the fold collapsed deltas to one row per distinct n-gram
    uni = read_snapshot(spark, f"{out}/{UNI_TABLE}")
    assert uni.count() == uni.select("tok").distinct().count()
    # "the" counted across both batches: 4 in B1 + 1 in B2
    assert _uni_counts(spark, out)["the"] == 5

    # replay of batch 0 (same writer identity): fenced — no new versions
    versions = {
        t: current_version(spark, f"{out}/{t}")
        for t in (UNI_TABLE, BIG_TABLE, SCORES_TABLE)
    }
    app = "lm-" + hashlib.md5(ckpt.encode()).hexdigest()[:12]
    extend_lm(
        spark, spark.createDataFrame(B1, ["doc_id", "text"]), out, 0, txn_app=app
    )
    assert _scores(spark, out) == got
    for t, v in versions.items():
        assert current_version(spark, f"{out}/{t}") == v, t


def test_lm_bulk_batch_skips_prune_collect_same_scores(spark, tmp_path):
    """A bulk batch with more distinct context tokens than
    snapshot.PRUNE_MAX_KEYS must SKIP the driver-side key collect and serve
    from the full column-pruned count tables — with scores identical
    to the pruned-read path (pruning is a read optimization, never a
    semantics change).  Pinned by forcing the cap below the batch's
    vocabulary and diffing against an uncapped twin run."""
    import query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot as snapshot

    runs = {}
    orig = snapshot.PRUNE_MAX_KEYS
    for tag, cap in (("pruned", orig), ("bulk", 2)):
        src = str(tmp_path / f"in_{tag}")
        out = str(tmp_path / f"lm_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        _write_batch(src, "b1.json", B1)
        _write_batch(src, "b2.json", B2)
        snapshot.PRUNE_MAX_KEYS = cap
        try:
            # order 3 exercises the trigram fallback branch too
            q = run_lm_stream(spark, src, out, ckpt, order=3)
            assert q.awaitTermination(300), "stream did not drain in 300s"
        finally:
            snapshot.PRUNE_MAX_KEYS = orig
        runs[tag] = _scores(spark, out)
    # B1 has >2 distinct prev tokens, so cap=2 forces the full-read
    # regime for bigrams AND trigrams; the streamed hashes must agree
    assert runs["bulk"] == runs["pruned"]
    assert len(runs["bulk"]) == len(B1) + len(B2)


def test_lm_crash_between_commits_replays_clean(spark, tmp_path):
    """A crash AFTER the unigram-delta commit but BEFORE the bigram and
    scores commits leaves a batch half-published; replaying the whole
    batch must skip the fenced unigram commit, land the rest, and end
    identical to an uncrashed run in a sibling directory."""
    app = "lm-" + hashlib.md5(b"crash").hexdigest()[:12]
    out = str(tmp_path / "crashed")
    clean = str(tmp_path / "clean")
    df1 = spark.createDataFrame(B1, ["doc_id", "text"])

    # simulate the crash window: publish ONLY the unigram deltas for
    # batch 0 (same writer identity and version the real body would use)
    uni_delta = (
        df1.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    write_snapshot(
        spark, uni_delta, f"{out}/{UNI_TABLE}",
        txn_app=app, txn_version=0, cluster_col="tok",
    )

    # replay batch 0 in full, then run batch 1 normally
    extend_lm(spark, df1, out, 0, txn_app=app)
    df2 = spark.createDataFrame(B2, ["doc_id", "text"])
    extend_lm(spark, df2, out, 1, txn_app=app)

    extend_lm(spark, df1, clean, 0, txn_app=app)
    extend_lm(spark, df2, clean, 1, txn_app=app)
    assert _scores(spark, out) == _scores(spark, clean)
    assert _uni_counts(spark, out) == _uni_counts(spark, clean)


def test_lm_fold_compaction_preserves_counts_and_bounds_files(spark, tmp_path):
    """The fold is a pure monoid collapse: cumulative counts identical
    before and after, file count drops to the fold's output, and the txn
    fence survives the compaction commit (a replay still skips)."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.compaction import (
        compact_twin_tables,
    )

    app = "lm-fold-test"
    out = str(tmp_path / "lm")
    extend_lm(spark, spark.createDataFrame(B1, ["doc_id", "text"]), out, 0, txn_app=app)
    extend_lm(spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1, txn_app=app)

    uni_before = _uni_counts(spark, out)
    big_before = {
        (r.prev, r.tok): r.c2
        for r in fold_bigrams(read_snapshot(spark, f"{out}/{BIG_TABLE}")).collect()
    }
    files_before = len(snapshot_files(spark, f"{out}/{UNI_TABLE}"))
    assert files_before >= 2  # two delta appends

    done = compact_twin_tables(
        spark,
        out,
        [UNI_TABLE, BIG_TABLE],
        txn_app=app,
        batch_id=1,
        canonical=BIG_TABLE,
        compact_every=2,
        transforms={UNI_TABLE: fold_unigrams, BIG_TABLE: fold_bigrams},
    )
    assert set(done) == {UNI_TABLE, BIG_TABLE}

    assert _uni_counts(spark, out) == uni_before
    assert {
        (r.prev, r.tok): r.c2
        for r in read_snapshot(spark, f"{out}/{BIG_TABLE}").collect()
    } == big_before
    # physically folded: one row per key, fewer live files
    uni = read_snapshot(spark, f"{out}/{UNI_TABLE}")
    assert uni.count() == uni.select("tok").distinct().count()
    assert len(snapshot_files(spark, f"{out}/{UNI_TABLE}")) < files_before

    # the txn map rode the compaction commit: a batch-1 replay is fenced
    v = current_version(spark, f"{out}/{SCORES_TABLE}")
    extend_lm(spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1, txn_app=app)
    assert current_version(spark, f"{out}/{SCORES_TABLE}") == v


@pytest.mark.slow
def test_lm_order3_prefix_equivalence(spark, tmp_path):
    """The order-3 streamed serve equals the batch order-3 train+score
    over each cumulative prefix — the 'one more table, two more joins'
    recurrence holds in streaming form, through the shared rung rule.
    (@slow: an equivalence sweep that trains two batch models — the
    fast gate keeps the order-2 crash/fold/plan pins.)"""
    app = "lm3-test"
    out = str(tmp_path / "lm3")
    extend_lm(
        spark, spark.createDataFrame(B1, ["doc_id", "text"]), out, 0,
        txn_app=app, order=3,
    )
    extend_lm(
        spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1,
        txn_app=app, order=3,
    )
    got = _scores(spark, out)
    want0 = _batch_prefix_scores(spark, tmp_path, "o3p0", B1, B1, order=3)
    want1 = _batch_prefix_scores(spark, tmp_path, "o3p1", B1 + B2, B2, order=3)
    assert {d: v[1:] for d, v in got.items() if v[0] == 0} == want0
    assert {d: v[1:] for d, v in got.items() if v[0] == 1} == want1
    # the trigram delta table exists and folds to one row per key
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.lmmaint import (
        TRI_TABLE,
        fold_trigrams,
    )

    tri = fold_trigrams(read_snapshot(spark, f"{out}/{TRI_TABLE}"))
    assert tri.count() == tri.select("prev2", "prev", "tok").distinct().count()


def test_lm_order_change_on_restart_is_rejected(spark, tmp_path):
    """order is part of the table contract: a restart at a different
    order would serve from count tables missing earlier batches'
    higher-order deltas.  The meta pin turns that silent wrongness into
    a loud error (and the same order keeps working)."""
    app = "lm-order-guard"
    out = str(tmp_path / "lm")
    extend_lm(spark, spark.createDataFrame(B1, ["doc_id", "text"]), out, 0, txn_app=app)
    with pytest.raises(ValueError, match="order"):
        extend_lm(
            spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1,
            txn_app=app, order=3,
        )
    extend_lm(spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1, txn_app=app)
    assert len(_scores(spark, out)) == len(B1) + len(B2)


def test_lm_serve_plan_bigram_join_is_sort_merge(spark):
    """The serve's bigram model join is pinned SPILLABLE sort-merge:
    both sides can be corpus-scale and the folded count table is a
    derived aggregate whose size estimate Catalyst gets wrong (the
    train_lm_model OOM lesson) — a plan-time broadcast here is the
    failure mode.  The only nested-loop is the designed 1-row scalar
    attach."""
    import io
    from contextlib import redirect_stdout

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.text import (
        _ngram_positions,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.lmmaint import (
        _score_batch,
    )

    toks = _ngram_positions(
        spark.createDataFrame(B1, ["doc_id", "text"]), order=2
    )
    uni = spark.createDataFrame([("the", 4)], "tok string, c1 bigint")
    big = spark.createDataFrame(
        [("the", "cat", 1)], "prev string, tok string, c2 bigint"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        _score_batch(toks, uni, big, 0).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan, plan[:1500]
    # exactly the one designed nested-loop NODE: the broadcast 1-row
    # scalars ("formatted" prints each node twice — tree + details —
    # so count node ids, not substrings)
    import re

    bnlj_nodes = re.findall(
        r"^\(\d+\) BroadcastNestedLoopJoin", plan, flags=re.MULTILINE
    )
    assert len(bnlj_nodes) == 1, plan[:1500]


def test_compaction_vacuum_bounds_storage_and_keeps_fencing(spark, tmp_path):
    """Compaction creates dead versions; the wired vacuum reaps them:
    with keep_last=1 and no age guard only the compacted manifest and
    its data files survive, reads stay correct, and the txn map on the
    retained manifest still fences a replay."""
    import glob

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.compaction import (
        compact_twin_tables,
    )

    app = "lm-vac-test"
    out = str(tmp_path / "lm")
    extend_lm(spark, spark.createDataFrame(B1, ["doc_id", "text"]), out, 0, txn_app=app)
    extend_lm(spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1, txn_app=app)
    uni_before = _uni_counts(spark, out)
    uni_path = f"{out}/{UNI_TABLE}"
    data_files_before = len(glob.glob(f"{uni_path}/data/*/*.parquet"))

    done = compact_twin_tables(
        spark,
        out,
        [UNI_TABLE, BIG_TABLE],
        txn_app=app,
        batch_id=1,
        canonical=BIG_TABLE,
        compact_every=2,
        transforms={UNI_TABLE: fold_unigrams, BIG_TABLE: fold_bigrams},
        vacuum_keep_last=1,
        vacuum_min_age_seconds=0.0,
    )
    assert set(done) == {UNI_TABLE, BIG_TABLE}

    # one manifest left (the compacted version), on-disk data pruned to
    # exactly the live file set, counts unchanged
    assert len(glob.glob(f"{uni_path}/_snapshots/*.json")) == 1
    live = set(snapshot_files(spark, uni_path))
    on_disk = {
        os.path.relpath(p, uni_path)
        for p in glob.glob(f"{uni_path}/data/*/*.parquet")
    }
    assert on_disk == live
    assert len(on_disk) < data_files_before
    assert _uni_counts(spark, out) == uni_before

    # replay fencing survived the vacuum: the retained manifest carries
    # the writer's high-water mark
    v = current_version(spark, uni_path)
    extend_lm(spark, spark.createDataFrame(B2, ["doc_id", "text"]), out, 1, txn_app=app)
    assert current_version(spark, uni_path) == v
