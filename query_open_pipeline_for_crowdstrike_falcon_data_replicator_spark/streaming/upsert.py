"""Streamed MERGE ingestion — the upsert twin: mutable-entity state
maintained from a micro-batch stream.

Every other streaming twin in this package maintains APPEND-shaped
state (cleaned rows, pairs, counts, packed sequences).  A second
standard ingestion shape exists at the front of real pipelines:
entity streams, where each record is the LATEST state of a keyed
entity (a re-crawled URL, a re-scored document, an updated user
profile) and the store must converge to one row per key,
last-writer-wins.  This module maintains exactly that: each
micro-batch MERGEs into one snapshot table by key
(``sinks/snapshot.merge_into_snapshot``) — matched keys replaced,
new keys inserted, one atomic version per batch.

Exactly-once: the merge (and the first batch's table-creating append)
commits under the per-writer txn high-water mark keyed by batch_id, so
a crash-replayed micro-batch is a no-op — the fence the driver probe
``stream_upsert_verify`` exercises by construction and
``test_upsert_stream_replay_fenced`` pins directly.

Scale shape: the table is CLUSTERED on the merge key, so a trickle
batch's candidate files prune manifest-level against the per-file
[min, max] (``snapshot.PRUNE_MAX_KEYS`` gates the key collect — the
probe saturation argument); the rewrite is file-grain copy-on-
write, so per-batch cost tracks the batch's key-range footprint, not
the table.  ``compact_every`` folds the standard snapshot compaction
in to keep the pruning ranges tight over a long-running stream.

Reference parity: the reference ships events append-only
(qopcfdr_stream_loader.py); keyed convergent state is beyond-reference
machinery for the training-data pipeline (SURVEY.md §6), composed from
driver-verified parts (merge_into_snapshot, the txn fence, the
compaction scheduler).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..sinks.snapshot import (
    current_version,
    merge_into_snapshot,
    write_snapshot,
)
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream

ENTITIES_TABLE = "entities"

UPSERT_SCHEMA = "doc_id long, tag long"


def apply_upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    key: str = "doc_id",
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  First batch creates the key-clustered table; every
    later batch merges, both fenced on (txn_app, batch_id)."""
    tbl = posixpath.join(out_path, ENTITIES_TABLE)
    if current_version(spark, tbl) is None:
        write_snapshot(
            spark,
            batch_df,
            tbl,
            cluster_col=key,
            txn_app=txn_app,
            txn_version=batch_id,
        )
    else:
        merge_into_snapshot(
            spark,
            tbl,
            batch_df,
            key,
            txn_app=txn_app,
            txn_version=batch_id,
        )


def run_upsert_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    key: str = "doc_id",
    schema: str = UPSERT_SCHEMA,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON entity records through MERGE ingestion: one
    exactly-once snapshot table converging to the latest row per
    ``key``, last-writer-wins across micro-batches."""
    return start_snapshot_stream(
        read_json_stream(spark, schema, input_path, max_files_per_trigger),
        checkpoint,
        "upsert",
        lambda df, batch_id, txn_app: apply_upsert_batch(
            spark, df, out_path, batch_id, key=key, txn_app=txn_app
        ),
        compact=CompactionSpec(out_path, [ENTITIES_TABLE], ENTITIES_TABLE, compact_every),
    )
