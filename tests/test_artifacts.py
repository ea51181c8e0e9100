"""Artifact hygiene (ADVICE r4): content-keyed paths + atomic publish
for train-on-first-use model/probe artifacts."""

from __future__ import annotations

import os

import pytest

from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.artifacts import (
    build_once,
    corpus_fingerprint,
    publish_swap,
)


def _mk(path: str, marker: str, payload: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "data"), "w") as f:
        f.write(payload)
    with open(os.path.join(path, marker), "w") as f:
        f.write("ok")


def test_build_once_builds_then_reuses(tmp_path):
    final = str(tmp_path / "artifact")
    calls = []

    def build(stage):
        calls.append(stage)
        _mk(stage, "_SUCCESS", "v1")

    assert build_once(final, "_SUCCESS", build) == final
    assert build_once(final, "_SUCCESS", build) == final
    assert len(calls) == 1, "second call must reuse the published artifact"
    assert open(os.path.join(final, "data")).read() == "v1"
    assert not calls[0] == final, "build must run against a staging path"
    assert not os.path.exists(calls[0]), "staging dir must not leak"


def test_build_once_requires_completion_marker(tmp_path):
    final = str(tmp_path / "artifact")

    def build(stage):
        os.makedirs(stage)  # no marker written

    with pytest.raises(IOError):
        build_once(final, "_SUCCESS", build)
    assert not os.path.exists(final)


def test_build_once_race_loser_uses_winner(tmp_path):
    """If a concurrent builder publishes between our existence check and
    our rename, we must discard our staging copy and serve theirs."""
    final = str(tmp_path / "artifact")

    def build(stage):
        _mk(final, "_SUCCESS", "winner")  # concurrent builder lands first
        _mk(stage, "_SUCCESS", "loser")

    assert build_once(final, "_SUCCESS", build) == final
    assert open(os.path.join(final, "data")).read() == "winner"


def test_publish_swap_replaces_previous_tree(tmp_path):
    final = str(tmp_path / "lake")
    _mk(final, "_lake_built", "old")
    stage = str(tmp_path / "lake.stage-1")
    _mk(stage, "_lake_built", "new")
    assert publish_swap(stage, final) == final
    assert open(os.path.join(final, "data")).read() == "new"
    assert not os.path.exists(stage)
    assert os.listdir(str(tmp_path)) == ["lake"], "old tree must be removed"


def test_publish_swap_without_existing_final(tmp_path):
    final = str(tmp_path / "lake")
    stage = str(tmp_path / "lake.stage-1")
    _mk(stage, "_lake_built", "new")
    assert publish_swap(stage, final) == final
    assert open(os.path.join(final, "data")).read() == "new"


def test_corpus_fingerprint_tracks_content(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "doc_id long, text string"
    )
    fa, fb = corpus_fingerprint(a), corpus_fingerprint(b)
    assert fa == "2x2" and fb == "3x3" and fa != fb


def test_stream_oracle_stage_dirs_keyed_by_code(tmp_path, monkeypatch):
    """The streamed oracle entries' ``build_once`` directories carry the
    package's source fingerprint: the same code maps to the same cached
    lake, other code to a fresh one (so an oracle never reads back a
    lake built by older code).  Starts no stream."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming import (
        verify,
    )

    monkeypatch.setattr(verify, "_code_fingerprint", lambda: "aaaa")
    a = verify._stage_dir("snapmerge", "sf0.01", "fp1")
    assert a == verify._stage_dir("snapmerge", "sf0.01", "fp1")
    assert os.path.basename(a) == "qopcfdr_snapmerge_sf0.01_fp1_aaaa"
    monkeypatch.setattr(verify, "_code_fingerprint", lambda: "bbbb")
    assert verify._stage_dir("snapmerge", "sf0.01", "fp1") != a

    # the fingerprint follows .py bytes and nothing else
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "sub" / "m.py").write_text("x = 1\n")
    (pkg / "notes.txt").write_text("a")
    fp = verify._sources_fingerprint(str(pkg))
    assert fp == verify._sources_fingerprint(str(pkg))
    (pkg / "notes.txt").write_text("b")
    assert verify._sources_fingerprint(str(pkg)) == fp
    (pkg / "sub" / "m.py").write_text("x = 2\n")
    assert verify._sources_fingerprint(str(pkg)) != fp
