"""Streaming sketch maintenance — the daily HLL/KLL rollup table
(``operators/sketches.daily_sketches``) kept current per micro-batch
instead of rebuilt by rescan.

The batch rollup answers "distinct users / value quantiles over any date
range" from ~KB daily sketches; on a live feed the table must absorb each
micro-batch WITHOUT rescanning the raw events.  Per batch:

1. aggregate the batch alone to per-day partial sketches (one day-grain
   shuffle of batch-sized data — the only per-row work);
2. read the current snapshot of the daily table and union-merge: counts
   add, HLL sketches union (``hll_union_agg``), KLL sketches fold with
   the two-sketch scalar merge (each day has exactly 2 rows in the merge
   input — current + this batch's partial — so the flat fold is bounded
   by construction);
3. publish the merged table as a new snapshot version
   (``sinks/snapshot.py``), idempotent per (checkpoint, batch_id) via the
   per-writer txn high-water mark — a replayed batch recomputes the merge
   but its commit SKIPS, so counts never double and sketches never absorb
   the same rows twice.

Scale shape: the daily table is one ~KB row per day (365 rows/year) — an
overwrite per batch is a metadata-sized write, while the per-row cost is
exactly one partial aggregation of the batch.  At a wider sketch grain
(per (day, event_type, tenant)) the same loop writes partition-overwrite
per touched day instead of whole-table overwrite; the merge logic is
unchanged.  Reference parity: the reference has no aggregation at all —
this is beyond-reference machinery for SURVEY.md §6's dashboard shape,
composed from the driver-checked sketch rollup parts.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sinks.snapshot import current_version, read_snapshot, write_snapshot
from .compaction import read_json_stream, start_snapshot_stream

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _batch_partials(batch_df: DataFrame) -> DataFrame:
    from ..operators.sketches import cm_array_agg

    aggs = batch_df.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.hll_sketch_agg("user_id").alias("users_hll"),
        F.kll_sketch_agg_double("value").alias("value_kll"),
    )
    # the count-min counter arrays ride along: same day grain, merged by
    # element-wise addition downstream (CM is linear)
    return aggs.join(cm_array_agg(batch_df), "day")


def _merge_daily(current: DataFrame, partial: DataFrame) -> DataFrame:
    """Union-merge two daily-sketch tables (<= 2 rows per day by
    construction, so the KLL scalar-merge fold is bounded)."""
    from ..operators.sketches import cm_merge_fold

    both = current.select(
        "day", "n_events", "users_hll", "value_kll", "cm"
    ).unionByName(partial)
    kll_list = F.collect_list("value_kll")
    kll_merged = F.aggregate(
        F.slice(kll_list, 2, 2),
        F.element_at(kll_list, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    return both.groupBy("day").agg(
        F.sum("n_events").alias("n_events"),
        F.hll_union_agg("users_hll").alias("users_hll"),
        kll_merged.alias("value_kll"),
        cm_merge_fold(F.collect_list("cm")).alias("cm"),
    )


def maintain_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it directly."""
    partial = _batch_partials(batch_df)
    if current_version(spark, table_path) is not None:
        merged = _merge_daily(read_snapshot(spark, table_path), partial)
    else:
        merged = partial
    write_snapshot(
        spark,
        merged,
        table_path,
        mode="overwrite",
        txn_app=txn_app,
        txn_version=batch_id,
    )


def run_sketch_maintenance(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON event files through the incremental rollup into an
    exactly-once daily sketch table."""
    return start_snapshot_stream(
        read_json_stream(spark, EVENT_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "sketch",
        lambda df, batch_id, txn_app: maintain_batch(
            spark, df, table_path, batch_id, txn_app=txn_app
        ),
    )
