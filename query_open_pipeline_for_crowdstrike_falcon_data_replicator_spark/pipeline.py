"""End-to-end batch pipeline: gzip NDJSON -> classify -> 13 normalized
OCSF tables -> partitioned parquet (+ quarantine side outputs).

This one job replaces the reference's seven network hops (S3 ->
EventBridge -> SQS -> Lambda -> SQS -> Lambda -> Firehose -> S3;
SURVEY.md §3.1)."""

from __future__ import annotations

import os
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ocsf.schemas import TABLE_KEYS
from .operators.castcheck import split_cast_failures
from .operators.normalize import normalize_class
from .operators.router import class_filter, classify, unmapped_events
from .sinks.parquet import write_ocsf_tables
from .sources.fdr import corrupt_lines, no_discriminator, parse_fdr_lines, read_fdr


def _class_sinks(checked: DataFrame) -> tuple[dict[str, DataFrame], DataFrame]:
    """The 13 tables (analysed on 13 threads) and the cast-failure
    quarantine, as filters of one ``split_cast_failures`` frame."""

    def table(key: str) -> DataFrame:
        # class first: on an unpersisted frame bad_fields is computed in
        # each table's filter, so only for that class's rows
        return normalize_class(checked.filter(class_filter(key) & (F.size("bad_fields") == 0)), key)

    with ThreadPoolExecutor(max_workers=len(TABLE_KEYS)) as pool:
        tables = dict(zip(TABLE_KEYS, pool.map(table, TABLE_KEYS)))
    return tables, checked.filter(F.size("bad_fields") > 0).select("sink", "bad_fields", "value")


def normalized_tables_with_cast_quarantine(
    classified: DataFrame,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """R3 routing with the E5 side output: rows whose typed cast would
    silently null a present raw value are DIVERTED to a (sink, bad_fields,
    value) frame, the reference Firehose's ``failures/`` semantics
    (create_qopcfdr_firehoses.py:137)."""
    return _class_sinks(split_cast_failures(classified))


# the 4 side outputs, keyed like the 13 tables by their path under the lake root
QUARANTINE_KEYS = (
    "_quarantine/cast_failures",
    "_quarantine/corrupt_lines",
    "_quarantine/no_discriminator",
    "_quarantine/unmapped_events",
)


@contextmanager
def batch_sinks(spark: SparkSession, parsed: DataFrame) -> Iterator[dict[str, DataFrame]]:
    """Every sink of one parsed batch, keyed by its path under the lake
    root: the 13 normalized tables (``TABLE_KEYS`` order, no partition
    columns yet) followed by the 4 ``QUARANTINE_KEYS`` frames.  Batch and
    stream both build their writes from this one dict.

    The batch is classified and cast-checked once, into one persisted
    frame that all 17 sinks filter, released when the block exits."""
    routed = split_cast_failures(classify(parsed, spark)).persist()
    try:
        tables, cast_failures = _class_sinks(routed)
        quarantines = (
            cast_failures,
            corrupt_lines(routed),
            no_discriminator(routed).drop("raw"),
            unmapped_events(routed),
        )
        yield {**tables, **dict(zip(QUARANTINE_KEYS, quarantines))}
    finally:
        routed.unpersist()


def process_batch(
    spark: SparkSession,
    parsed: DataFrame,
    base_path: str,
    *,
    region: str = "us-east-1",
    account_id: str = "000000000000",
) -> None:
    """Route one parsed batch to the 13 sinks + quarantine tables.

    The 13 concurrent table writes fill ``batch_sinks``' persisted frame,
    so read, gunzip, parse, classify and cast check run once; the
    quarantine writes then read it from the cache."""
    with batch_sinks(spark, parsed) as sinks:
        write_ocsf_tables(
            {key: sinks.pop(key) for key in TABLE_KEYS},
            base_path,
            region=region,
            account_id=account_id,
        )
        for key, df in sinks.items():  # the 4 quarantines
            df.write.mode("append").parquet(os.path.join(base_path, key))


def run_batch(
    spark: SparkSession,
    input_path: str,
    base_path: str,
    *,
    region: str = "us-east-1",
    account_id: str = "000000000000",
) -> None:
    """Batch/replay driver (the reference's 'copy objects into the bucket'
    workflow, README.md:78 — natively)."""
    process_batch(
        spark,
        read_fdr(spark, input_path),
        base_path,
        region=region,
        account_id=account_id,
    )


__all__ = ["batch_sinks", "process_batch", "run_batch", "parse_fdr_lines"]
