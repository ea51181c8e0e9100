"""One start path for every streamed snapshot writer, and its one
compaction scheduler.

Every foreachBatch driver in ``streaming/`` — ``run_stream``, the EWMA
monitor's snapshot sink, sketch maintenance, packing and the
maintenance twins — is a per-batch callback handed to
``start_snapshot_stream``.  It owns the writer identity, the
foreachBatch/checkpoint/trigger wiring and, given a
``CompactionSpec``, the replay-fenced ``compact_twin_tables`` call
after each batch.  ``read_json_stream`` is the NDJSON file source the
JSON drivers share.

Writer identity: ``"<prefix>-" + md5(checkpoint)[:12]``.  The source
replays batch ids per checkpoint, so the txn idempotence scope must
match it exactly.  Each driver's prefix is part of its lakes' txn marks:
changing one would let a replay of an existing lake commit twice.

Every snapshot table a stream appends to gains fresh files each
micro-batch.  After thousands of micro-batches the manifest carries
thousands of overlapping [min, max] ranges and the trickle-probe
file-skip degrades toward a full scan.  ``sinks/snapshot.compact_snapshot``
re-clusters a table and tightens its ranges (per-batch appends each
cover the whole key range, so compaction is precisely when the ranges
become disjoint again); ``compact_twin_tables`` schedules it.

Replay semantics: compaction is fenced on the writer's txn high-water
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

import hashlib
import posixpath
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sinks.snapshot import (
    compact_snapshot,
    current_version,
    last_txn_version,
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
    target_files: int = 0,
    transforms: dict | None = None,
    vacuum_keep_last: int | None = 2,
    vacuum_min_age_seconds: float = 3600.0,
) -> list[str]:
    """Compact each snapshot table under ``out_path`` after every
    ``compact_every``-th batch, if the writer's high-water mark on
    ``canonical`` is exactly ``batch_id`` (see module docstring for why
    that is the replay-safe condition).  ``compact_every`` unset or 0
    returns [] before any manifest read.  The cadence lives HERE, not in
    each sink — sinks call unconditionally per batch and a cadence
    change edits one place.

    Direct invocations that want to compact NOW pass
    ``compact_every=1``.  Tables that do not exist yet are skipped.
    ``transforms`` maps table name -> pure fold applied during that
    table's rewrite (``compact_snapshot``'s merge-on-read hook — the
    streamed LM folds its count-delta tables with a groupBy-sum).

    Each compacted table is then VACUUMED (``vacuum_snapshots`` with
    ``vacuum_keep_last``/``vacuum_min_age_seconds``): compaction is
    exactly what turns old versions into dead weight — without GC a
    long-running stream's storage grows as O(batches x table size) even
    though the live snapshot is bounded.  On by default because the
    age guard makes it safe next to live writers and pinned readers
    (nothing younger than the threshold is deleted; Delta's VACUUM
    RETAIN rationale) and the txn map rides the retained manifests, so
    replay fencing survives.  ``vacuum_keep_last=None`` opts out
    (time travel then reaches every version).
    Returns the compacted table names."""
    if not compact_every or (batch_id + 1) % compact_every:
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


class CompactionSpec(NamedTuple):
    """What ``start_snapshot_stream`` hands ``compact_twin_tables`` after
    each batch: the tables under ``out_path``, the one whose txn mark
    fences the pass, the cadence, and any merge-on-read folds."""

    out_path: str
    tables: list[str]
    canonical: str
    compact_every: int | None
    transforms: dict | None = None


def read_json_stream(
    spark: SparkSession,
    schema,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The NDJSON file-source stream under ``input_path``, read with
    ``schema``; ``max_files_per_trigger`` caps each micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(input_path)


def writer_identity(prefix: str, checkpoint: str) -> str:
    """The txn writer id a stream commits under (see module docstring)."""
    return prefix + "-" + hashlib.md5(checkpoint.encode()).hexdigest()[:12]


def _start(stream: DataFrame, sink, checkpoint: str, trigger: dict | None) -> StreamingQuery:
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def start_snapshot_stream(
    stream: DataFrame,
    checkpoint: str,
    prefix: str,
    apply_batch: Callable[[DataFrame, int, str], None],
    *,
    trigger: dict | None = None,
    compact: CompactionSpec | None = None,
) -> StreamingQuery:
    """Start ``stream`` with ``apply_batch(batch_df, batch_id, txn_app)``
    as its foreachBatch body, checkpointed at ``checkpoint``.
    ``trigger`` defaults to ``availableNow``.  With ``compact``, each
    batch then runs ``compact_twin_tables`` on that spec."""
    spark = stream.sparkSession
    txn_app = writer_identity(prefix, checkpoint)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(batch_df, batch_id, txn_app)
        if compact is not None:
            compact_twin_tables(spark, txn_app=txn_app, batch_id=batch_id, **compact._asdict())

    return _start(stream, _sink, checkpoint, trigger)
