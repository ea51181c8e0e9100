"""Train-on-first-use artifact hygiene: content-keyed paths + atomic
publish.

Model artifacts (quality weights, n-gram LM tables, stream-verify
snapshots) are built lazily at fixed tmp paths.  Two hazards when the
path is keyed only by the sf-dir basename (ADVICE r4):

1. staleness — a regenerated corpus at an unchanged path silently
   serves weights trained on the OLD corpus while the DuckDB oracle
   retrains from live data (guaranteed hash mismatch);
2. racing — this box runs the round driver alongside bench/pytest, and
   two sessions can interleave ``mode=overwrite`` writes at one path.

The fix is a stage-then-rename publish: salt the path with a cheap
corpus fingerprint
(row count x max id — changes whenever the generator reruns), build
into a process-unique staging sibling, and publish with one atomic
``os.rename``.  A loser of the rename race discards its staging copy
and reads the winner's — both trained from the same fingerprinted
corpus, so the artifacts are interchangeable."""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_fingerprint(df: DataFrame, id_col: str = "doc_id") -> str:
    """Cheap content key for an input corpus: ``<rows>x<max id>``.  Two
    aggregates that map-side combine to one row — O(scan) with no
    shuffle of data-scale rows, safe to run per artifact lookup even at
    100 TB (and at that scale the lakehouse table version/snapshot id
    would replace it outright)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.col(id_col)).alias("mx")
    ).collect()[0]
    return f"{row['n']}x{row['mx']}"


def build_once(final_path: str, marker_rel: str, build: Callable[[str], None]) -> str:
    """Build-on-first-use with atomic publish.

    If ``final_path/marker_rel`` exists the artifact is complete —
    return it.  Otherwise run ``build(staging_path)`` against a
    process-unique sibling and ``os.rename`` it into place: the rename
    either publishes a complete artifact or fails because a concurrent
    builder won, in which case our staging copy is discarded and the
    winner's (same fingerprint, interchangeable) is used.  No reader
    can ever observe a half-written artifact at ``final_path``."""
    if os.path.exists(os.path.join(final_path, marker_rel)):
        return final_path
    stage = f"{final_path}.stage-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        build(stage)
        if not os.path.exists(os.path.join(stage, marker_rel)):
            raise IOError(
                f"artifact build left no completion marker {marker_rel} under {stage}"
            )
        try:
            os.rename(stage, final_path)
        except OSError:
            if os.path.exists(os.path.join(final_path, marker_rel)):
                shutil.rmtree(stage, ignore_errors=True)  # lost the race
            else:
                raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return final_path


def publish_swap(stage: str, final_path: str) -> str:
    """Publish a REBUILT artifact over an existing one via rename swap.

    For probes that intentionally re-run their write path every call
    (``ocsf_etl_verify``), plain ``mode=overwrite`` at the final path
    leaves a long half-written window that a concurrent reader (the
    union-view search in another session) can scan.  Renaming the old
    tree aside and the staging tree in shrinks that window to two
    metadata operations; a concurrent publisher losing the second
    rename discards its copy (same deterministic inputs,
    interchangeable)."""
    old = f"{final_path}.old-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(final_path, old)
    except FileNotFoundError:
        pass
    try:
        os.rename(stage, final_path)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return final_path
