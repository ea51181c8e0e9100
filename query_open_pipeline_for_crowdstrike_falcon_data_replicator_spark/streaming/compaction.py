"""Periodic snapshot compaction for the streaming maintenance twins.

Every maintenance twin (span / curation / graph / triplet / ANN / LM)
appends a fresh clustered file-set to its snapshot tables each
micro-batch.
After thousands of micro-batches the manifest carries thousands of
overlapping [min, max] ranges and the trickle-probe file-skip degrades
toward a full scan.  ``sinks/snapshot.compact_snapshot`` already
re-clusters a table and tightens its ranges (per-batch appends each
cover the whole key range, so compaction is precisely when the ranges
become disjoint again); this module is the missing scheduler — the
twins' analogue of ``streaming/pipeline.run_stream``'s ``compact_every``,
adding the txn-mark fence and a live-file-count trigger.

Replay semantics: compaction is fenced on the twin's txn high-water
mark.  It fires only when the CANONICAL table's mark for this writer is
exactly ``batch_id`` — true both when the batch just committed and when
the last batch replays after a crash (including a crash in the middle of
a previous compaction attempt, which leaves only unreferenced orphan
files behind — the snapshot commit is atomic).  A replay of an OLDER
batch can never recompact, and a maintenance pass that dies mid-rewrite
costs nothing but orphans for ``vacuum_snapshots`` to reap.

Compaction rewrites the full table, so ``compact_every`` trades that
rewrite cost against probe-planning decay; the spanmaint long-run probe
(``tools/spanmaint_scale_probe.py --compact-every``, the probe at
commit d9bd2f7) measures both sides.  Readers are never disturbed (snapshot isolation), and the txn
map rides every compaction commit, so replay fencing survives.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession

from ..sinks.snapshot import (
    compact_snapshot,
    current_version,
    last_txn_version,
    snapshot_files,
    vacuum_snapshots,
)


def compact_twin_tables(
    spark: SparkSession,
    out_path: str,
    tables: list[str],
    *,
    txn_app: str,
    batch_id: int,
    canonical: str,
    compact_every: int | None = None,
    max_live_files: int | None = None,
    target_files: int = 0,
    transforms: dict | None = None,
    vacuum_keep_last: int | None = 2,
    vacuum_min_age_seconds: float = 3600.0,
) -> list[str]:
    """Compact each snapshot table under ``out_path`` if the run is DUE
    and the twin's high-water mark on ``canonical`` is exactly
    ``batch_id`` (see module docstring for why that is the replay-safe
    condition).  The cadence lives HERE, not in each sink — sinks call
    unconditionally per batch and a cadence change edits one place.

    Two triggers, OR-combined; both ``None``/0 disarms (returns []):

    - ``compact_every=N`` — after every N-th batch (fixed cadence);
    - ``max_live_files=M`` — when the CANONICAL table's live file count
      reaches M.  This is the self-scaling form BASELINE.md's cost
      analysis calls for: a compaction rewrite costs O(index), so a
      fixed cadence pays an ever-growing amortized per-batch cost,
      while a file-count trigger fires ever more rarely as the index
      grows (each batch adds a bounded file count), keeping BOTH the
      probe-planning manifest bounded and the amortized rewrite cost
      per batch roughly constant.

    Direct invocations that want to compact NOW pass
    ``compact_every=1``.  Tables that do not exist yet are skipped.
    ``transforms`` maps table name -> pure fold applied during that
    table's rewrite (``compact_snapshot``'s merge-on-read hook — the
    streamed LM folds its count-delta tables with a groupBy-sum).

    Each compacted table is then VACUUMED (``vacuum_snapshots`` with
    ``vacuum_keep_last``/``vacuum_min_age_seconds``): compaction is
    exactly what turns old versions into dead weight — without GC a
    long-running twin's storage grows as O(batches x table size) even
    though the live snapshot is bounded.  On by default because the
    age guard makes it safe next to live writers and pinned readers
    (nothing younger than the threshold is deleted; Delta's VACUUM
    RETAIN rationale) and the txn map rides the retained manifests, so
    replay fencing survives.  ``vacuum_keep_last=None`` opts out
    (time travel then reaches every version).
    Returns the compacted table names."""
    due = bool(compact_every) and (batch_id + 1) % compact_every == 0
    if not due and max_live_files:
        # one manifest read — the canonical table's live file count
        try:
            due = len(snapshot_files(spark, posixpath.join(out_path, canonical))) >= max_live_files
        except FileNotFoundError:
            due = False
    if not due:
        return []
    mark = last_txn_version(
        spark, posixpath.join(out_path, canonical), txn_app
    )
    if mark != batch_id:
        return []
    done = []
    for t in tables:
        p = posixpath.join(out_path, t)
        if current_version(spark, p) is None:
            continue
        compact_snapshot(
            spark,
            p,
            target_files=target_files,
            transform=(transforms or {}).get(t),
        )
        if vacuum_keep_last is not None:
            vacuum_snapshots(
                spark,
                p,
                keep_last=vacuum_keep_last,
                min_age_seconds=vacuum_min_age_seconds,
            )
        done.append(t)
    return done
