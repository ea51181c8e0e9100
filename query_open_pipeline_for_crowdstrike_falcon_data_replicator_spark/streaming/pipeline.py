"""Structured Streaming driver.

The reference's streaming topology (EventBridge -> SQS -> Lambda loader ->
13 SQS queues -> 13 writer Lambdas -> Firehose; SURVEY.md §3.1) becomes a
single file-source stream with a foreachBatch fan-out running the exact
same normalizer expressions as batch.  Buffering knobs map directly:
SQS batch 500/120 s + Firehose 128 MB/180 s -> trigger interval +
maxFilesPerTrigger (SURVEY.md §1.4)."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ocsf.schemas import TABLE_KEYS
from ..pipeline import QUARANTINE_KEYS, batch_sinks
from ..sinks import snapshot as snap
from ..sinks.parquet import with_partition_cols
from ..sources.fdr import read_fdr_stream
from .compaction import CompactionSpec, start_snapshot_stream


def run_stream(
    spark: SparkSession,
    input_path: str,
    base_path: str,
    checkpoint: str,
    *,
    region: str = "us-east-1",
    account_id: str = "000000000000",
    max_files_per_trigger: int | None = 10,
    trigger: dict | None = None,
    snapshot: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start the streaming pipeline.  ``trigger`` defaults to
    ``availableNow`` (catch-up/replay mode); pass e.g.
    ``{"processingTime": "120 seconds"}`` for the reference's cadence.

    Each micro-batch commits every sink of ``pipeline.batch_sinks`` —
    the 13 OCSF tables and the 4 ``_quarantine/*`` tables — as a new
    ``sinks/snapshot.py`` manifest version.  Readers get snapshot
    isolation (``read_snapshot``).  A replay is exactly-once through the
    manifest's per-writer txn high-water mark, keyed by the checkpoint
    (``streaming/compaction.writer_identity``).  Each table is fenced on
    its own, so a batch that died after committing some sinks replays
    only the rest.  Partition columns
    (region/accountId/eventDay) are kept as data columns: snapshot reads
    plan from explicit file lists, where Hive-style dir inference does
    not apply; eventDay file-skipping comes from parquet row-group stats
    (micro-batches are naturally day-clustered).  The Hive-partitioned
    directory lake is the batch path's (``pipeline.run_batch``).

    ``snapshot`` selects nothing: it stays only so existing
    ``snapshot=True`` callers keep working, and ``snapshot=False`` (the
    removed directory-append path) raises.  It is due to be dropped
    with its last caller.

    ``compact_every=N`` rewrites and then vacuums every sink after each
    N-th batch, through the same replay-fenced ``compact_twin_tables``
    pass as the maintenance twins (readers keep their pinned file
    lists).  Unset, a batch reads no manifest beyond its own commits."""
    if not snapshot:
        raise ValueError(
            "run_stream commits snapshot tables only; the directory-append "
            "path (snapshot=False) was removed — use pipeline.run_batch for "
            "a Hive-partitioned directory lake"
        )

    def _commit(batch_df, batch_id: int, txn_app: str) -> None:
        with batch_sinks(spark, batch_df) as sinks:
            def _write(item):
                key, df = item
                if key in TABLE_KEYS:
                    df = with_partition_cols(df, region, account_id)
                # resolved per call, so a wrapper installed on the module
                # attribute sees every commit
                snap.write_snapshot(
                    spark, df, os.path.join(base_path, key),
                    txn_app=txn_app, txn_version=batch_id,
                )

            # 13 tables + 4 quarantines commit 8 at a time (the reference's
            # 13 Firehose streams also ran in parallel); each table has its
            # own manifest chain, so there is no cross-table commit contention
            with ThreadPoolExecutor(max_workers=8) as pool:
                list(pool.map(_write, sinks.items()))

    return start_snapshot_stream(
        read_fdr_stream(spark, input_path, max_files_per_trigger),
        checkpoint,
        "stream",
        _commit,
        trigger=trigger,
        # every sink commits every batch (an empty frame commits an empty
        # version), so any one of them carries the batch's txn mark
        compact=CompactionSpec(
            base_path, [*TABLE_KEYS, *QUARANTINE_KEYS], TABLE_KEYS[0], compact_every
        ),
    )
