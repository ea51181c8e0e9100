"""Structured Streaming driver.

The reference's streaming topology (EventBridge -> SQS -> Lambda loader ->
13 SQS queues -> 13 writer Lambdas -> Firehose; SURVEY.md §3.1) becomes a
single file-source stream with a foreachBatch fan-out running the exact
same normalizer expressions as batch.  Buffering knobs map directly:
SQS batch 500/120 s + Firehose 128 MB/180 s -> trigger interval +
maxFilesPerTrigger (SURVEY.md §1.4)."""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ocsf.schemas import TABLE_KEYS
from ..pipeline import batch_sinks
from ..sinks import snapshot as snap
from ..sinks.parquet import with_partition_cols
from ..sources.fdr import read_fdr_stream


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
    vacuum_every: int | None = None,
    vacuum_keep_last: int = 2,
    vacuum_min_age_seconds: float = 3600.0,
) -> StreamingQuery:
    """Start the streaming pipeline.  ``trigger`` defaults to
    ``availableNow`` (catch-up/replay mode); pass e.g.
    ``{"processingTime": "120 seconds"}`` for the reference's cadence.

    Each micro-batch commits every sink of ``pipeline.batch_sinks`` —
    the 13 OCSF tables and the 4 ``_quarantine/*`` tables — as a new
    ``sinks/snapshot.py`` manifest version.  Readers get snapshot
    isolation (``read_snapshot``).  A replay is exactly-once through the
    manifest's per-writer txn high-water mark, keyed by the checkpoint:
    a new checkpoint is a new writer identity, matching the source's own
    replay scope.  Each table is fenced on its own, so a batch that died
    after committing some sinks replays only the rest.  Partition columns
    (region/accountId/eventDay) are kept as data columns: snapshot reads
    plan from explicit file lists, where Hive-style dir inference does
    not apply; eventDay file-skipping comes from parquet row-group stats
    (micro-batches are naturally day-clustered).  The Hive-partitioned
    directory lake is the batch path's (``pipeline.run_batch``).

    ``snapshot`` selects nothing: it stays only so existing
    ``snapshot=True`` callers keep working, and ``snapshot=False`` (the
    removed directory-append path) raises.  It is due to be dropped
    with its last caller.

    compact_every=N rewrites every sink with ``compact_snapshot`` after
    each N-th batch (a new version; readers keep their pinned file
    lists).  vacuum_every=N garbage-collects manifests and unreferenced
    data files after each N-th batch (``vacuum_snapshots``)."""
    if not snapshot:
        raise ValueError(
            "run_stream commits snapshot tables only; the directory-append "
            "path (snapshot=False) was removed — use pipeline.run_batch for "
            "a Hive-partitioned directory lake"
        )
    parsed = read_fdr_stream(spark, input_path, max_files_per_trigger)
    # writer identity = the checkpoint: the source replays batch ids
    # per checkpoint, so the idempotence scope must match it exactly
    app = "stream-" + hashlib.md5(checkpoint.encode()).hexdigest()[:12]

    def _due(every: int | None, batch_id: int) -> bool:
        return bool(every) and (batch_id + 1) % every == 0

    def _sink(batch_df, batch_id: int) -> None:
        with batch_sinks(spark, batch_df) as sinks:
            def _write(item):
                key, df = item
                if key in TABLE_KEYS:
                    df = with_partition_cols(df, region, account_id)
                # resolved per call, so a wrapper installed on the module
                # attribute sees every commit
                snap.write_snapshot(
                    spark, df, os.path.join(base_path, key),
                    txn_app=app, txn_version=batch_id,
                )

            # 13 tables + 4 quarantines commit 8 at a time (the reference's
            # 13 Firehose streams also ran in parallel); each table has its
            # own manifest chain, so there is no cross-table commit contention
            with ThreadPoolExecutor(max_workers=8) as pool:
                list(pool.map(_write, sinks.items()))

        # every sink was just committed (or was already, on a replay),
        # so each one has a current version to maintain
        if _due(compact_every, batch_id):
            for key in sinks:
                snap.compact_snapshot(spark, os.path.join(base_path, key))
        # retention: GC manifests + unreferenced data files (compacted-
        # away originals, crash orphans).  Age-guarded, so it is safe
        # next to this very writer's in-flight staging.
        if _due(vacuum_every, batch_id):
            for key in sinks:
                snap.vacuum_snapshots(
                    spark,
                    os.path.join(base_path, key),
                    keep_last=vacuum_keep_last,
                    min_age_seconds=vacuum_min_age_seconds,
                )

    writer = parsed.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
