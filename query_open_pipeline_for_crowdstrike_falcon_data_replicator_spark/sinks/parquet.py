"""Partitioned Parquet sinks — the Spark-native replacement for the entire
Firehose path (S6/S7/S8 in SURVEY.md §2.1).

The reference buffers JSON through SQS+Firehose, converts with
OpenXJsonSerDe -> ParquetSerDe(GZIP), and dynamically partitions into
``region=<r>/accountId=<a>/eventDay=YYYYMMDD`` prefixes where eventDay is
extracted from the normalized ``time`` by a JQ processor (~600 ms per
500-record batch, create_qopcfdr_firehoses.py:136-190, README.md:233).

Here that is one ``partitionBy`` write; the JQ step is the column
expression ``date_format(time, 'yyyyMMdd')``, and Catalyst partition
pruning on region/accountId/eventDay replaces Athena's."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ocsf.schemas import TABLE_KEYS

PARTITION_COLS = ("region", "accountId", "eventDay")


def with_partition_cols(df: DataFrame, region: str, account_id: str) -> DataFrame:
    return (
        df.withColumn("region", F.lit(region))
        .withColumn("accountId", F.lit(account_id))
        .withColumn("eventDay", F.date_format("time", "yyyyMMdd"))
    )


def write_ocsf_tables(
    tables: dict[str, DataFrame],
    base_path: str,
    *,
    region: str = "us-east-1",
    account_id: str = "000000000000",
) -> None:
    """13 partitioned GZIP-parquet writes, submitted CONCURRENTLY from
    driver threads (the reference's 13 Firehose streams also ran in
    parallel): wall time ≈ the slowest sink instead of the sum, and the
    scheduler interleaves the small per-sink jobs across idle cores.
    ``maxRecordsPerFile`` plays the Firehose 128 MB buffer's file-sizing
    role (~1.5 kB/record average, QOPCFDR_SchemaTransformation_CFN.yaml:295)."""
    from concurrent.futures import ThreadPoolExecutor

    def _write(item):
        # Direct dynamic-partition write, no pre-shuffle: clustering rows
        # by target partition first (repartition on the partition cols)
        # measured ~2x SLOWER here — the extra exchange moves fully-built
        # nested rows and adds a stage per sink.  Small-files control is
        # maxRecordsPerFile plus the fact that a micro-batch's rows land
        # in few eventDay partitions anyway.
        key, df = item
        (
            with_partition_cols(df, region, account_id)
            .write.partitionBy(*PARTITION_COLS)
            .option("compression", "gzip")
            .option("maxRecordsPerFile", 5_000_000)
            .mode("append")
            .parquet(os.path.join(base_path, key))
        )

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        list(pool.map(_write, tables.items()))


def _register_views(read) -> list[str]:
    """Register ``read(key)`` as a temp view per OCSF table (``read``
    returns None for a missing table, which is skipped) plus the
    cross-class ``ocsf_all`` union view; returns the registered names."""
    registered = []
    union_df = None
    for key in TABLE_KEYS:
        df = read(key)
        if df is None:
            continue
        df.createOrReplaceTempView(key)
        registered.append(key)
        union_df = df if union_df is None else union_df.unionByName(
            df, allowMissingColumns=True
        )
    if union_df is not None:
        union_df.createOrReplaceTempView("ocsf_all")
        registered.append("ocsf_all")
    return registered


def register_ocsf_tables(spark: SparkSession, base_path: str) -> list[str]:
    """Register the written sinks as queryable views plus a cross-class
    ``ocsf_all`` union view — the Spark SQL replacement for the Glue
    crawler + Athena entry point (S9/S10, reference README.md:48)."""
    from pyspark.errors import AnalysisException

    def read(key: str) -> DataFrame | None:
        # probe via the reader, not os.path: base_path may be an object
        # store / HDFS URI where local isdir() is always False.  Only a
        # missing sink is skippable — a corrupt or unreadable table must
        # fail loudly, not silently vanish from the ocsf_all union.
        try:
            df = spark.read.parquet(os.path.join(base_path, key))
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" in str(ex) or "Path does not exist" in str(ex):
                return None
            raise
        # partition-type inference turns eventDay=YYYYMMDD into int; pin the
        # lakehouse contract (string, like the Firehose prefix)
        return df.withColumn("eventDay", F.col("eventDay").cast("string"))

    return _register_views(read)
