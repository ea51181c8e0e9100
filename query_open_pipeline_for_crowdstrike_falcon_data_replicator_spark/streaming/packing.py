"""Streaming sequence packing — ``corpus_pack_sequences``'s concat-and-
chunk assignment maintained across micro-batches, exactly once.

A training-data feed lands continuously; each arriving micro-batch of
documents must be appended to the SAME token stream the previous batches
packed, so its sequence ids continue where the corpus left off.  The
cross-batch state is ONE integer — the running token total — carried in
a single-row snapshot table:

1. read the running total (``state`` snapshot; 0 before the first batch);
2. pack the batch with the two-pass distributed prefix sum
   (``operators/text.pack_assignments``) offset by that base;
3. commit the batch's assignments to the ``packed`` snapshot table, THEN
   the advanced total to ``state`` — both idempotent per
   (checkpoint, batch_id) via the per-writer txn high-water mark
   (``sinks/snapshot.py``).

Replay safety: a crash between the two commits replays the batch against
the OLD state row, re-deriving byte-identical assignments; the packed
commit then skips on its txn mark and only the state commit lands.  A
fully-replayed batch skips both.  The docs themselves never ride in the
state — at 100 TB the state table stays one row per version regardless
of corpus size.

Reference parity: beyond-reference machinery (the reference has no
training-data stage); the batch twin ``corpus_pack_sequences`` is
driver-oracle-verified and the equality of streamed vs batch packing is
pinned in tests/test_curation.py.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.text import _tokens, pack_assignments
from ..sinks.snapshot import current_version, read_snapshot, write_snapshot
from .compaction import read_json_stream, start_snapshot_stream

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

PACKED_TABLE = "packed"
STATE_TABLE = "state"


def _running_total(spark: SparkSession, state_path: str) -> int:
    if current_version(spark, state_path) is None:
        return 0
    rows = read_snapshot(spark, state_path).collect()
    return int(rows[0]["total_tokens"]) if rows else 0


def pack_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
    num_partitions: int | None = None,
) -> None:
    """The foreachBatch body; factored out so tests can drive it (and
    replay it) directly.  ``num_partitions`` overrides the input-derived
    prefix-sum partition count — assignments are partition-count-
    independent, so a restart under a different count (cluster resize)
    continues the stream byte-identically (test-pinned)."""
    packed_path = posixpath.join(out_path, PACKED_TABLE)
    state_path = posixpath.join(out_path, STATE_TABLE)

    base = _running_total(spark, state_path)
    docs = batch_df.select(
        "doc_id", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    assigned = pack_assignments(
        docs, base=base, num_partitions=num_partitions
    ).persist()
    try:
        batch_total = assigned.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0).cast("long")).alias("t")
        ).collect()[0]["t"]
        # packed FIRST, state after: a replay between the two re-derives
        # identical assignments from the old state row, the packed commit
        # skips on its txn mark, and only the state commit lands
        write_snapshot(
            spark,
            assigned.withColumn("batch_id", F.lit(batch_id)),
            packed_path,
            txn_app=txn_app,
            txn_version=batch_id,
        )
        write_snapshot(
            spark,
            spark.createDataFrame(
                [(int(base + batch_total), batch_id)],
                "total_tokens long, batch_id long",
            ),
            state_path,
            txn_app=txn_app,
            txn_version=batch_id,
            mode="overwrite",
        )
    finally:
        assigned.unpersist()


def run_packing_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    num_partitions: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON document files (doc_id, text) into an exactly-once
    packed-sequence table with a continuous token stream across batches."""
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "pack",
        lambda df, batch_id, txn_app: pack_batch(
            spark, df, out_path, batch_id, txn_app=txn_app, num_partitions=num_partitions
        ),
    )
