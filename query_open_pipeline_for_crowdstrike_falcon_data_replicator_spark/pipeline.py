"""End-to-end batch pipeline: gzip NDJSON -> classify -> 13 normalized
OCSF tables -> partitioned parquet (+ quarantine side outputs).

This one job replaces the reference's seven network hops (S3 ->
EventBridge -> SQS -> Lambda -> SQS -> Lambda -> Firehose -> S3;
SURVEY.md §3.1)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .operators.castcheck import split_cast_failures
from .operators.router import class_filter, classify, unmapped_events
from .ocsf.schemas import TABLE_KEYS
from .sinks.parquet import write_ocsf_tables
from .sources.fdr import corrupt_lines, no_discriminator, parse_fdr_lines, read_fdr


def normalized_tables_with_cast_quarantine(
    classified: DataFrame,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """R3 routing with the E5 side output: per class, rows whose typed
    cast would silently null a present raw value are DIVERTED to a
    (sink, bad_fields, value) quarantine frame instead of landing in the
    table with nulled fields — the reference Firehose's ``failures/``
    semantics (create_qopcfdr_firehoses.py:137)."""
    tables: dict[str, DataFrame] = {}
    failures: DataFrame | None = None
    for key in TABLE_KEYS:
        ok, bad = split_cast_failures(classified.filter(class_filter(key)), key)
        tables[key] = ok
        failures = bad if failures is None else failures.unionByName(bad)
    return tables, failures


def batch_sinks(spark: SparkSession, parsed: DataFrame) -> dict[str, DataFrame]:
    """Every sink of one parsed batch, keyed by its path under the lake
    root: the 13 normalized tables (``TABLE_KEYS`` order, no partition
    columns yet) followed by the 4 ``_quarantine/*`` frames.  Batch and
    stream both build their writes from this one dict."""
    tables, cast_failures = normalized_tables_with_cast_quarantine(
        classify(parsed, spark)
    )
    return {
        **tables,
        "_quarantine/cast_failures": cast_failures,
        "_quarantine/corrupt_lines": corrupt_lines(parsed),
        "_quarantine/no_discriminator": no_discriminator(parsed).drop("raw"),
        "_quarantine/unmapped_events": unmapped_events(parsed, spark),
    }


def process_batch(
    spark: SparkSession,
    parsed: DataFrame,
    base_path: str,
    *,
    region: str = "us-east-1",
    account_id: str = "000000000000",
    mode: str = "append",
) -> None:
    """Route one parsed batch to the 13 sinks + quarantine tables.

    The parsed batch is cached: it is scanned 13 times (once per sink
    filter), and re-reading + re-parsing gzip JSON would dominate."""
    parsed.persist()
    try:
        sinks = batch_sinks(spark, parsed)
        write_ocsf_tables(
            {key: sinks.pop(key) for key in TABLE_KEYS},
            base_path,
            region=region,
            account_id=account_id,
            mode=mode,
        )
        for key, df in sinks.items():  # the 4 quarantines
            df.write.mode(mode).parquet(os.path.join(base_path, key))
    finally:
        parsed.unpersist()


def run_batch(
    spark: SparkSession,
    input_path: str,
    base_path: str,
    *,
    region: str = "us-east-1",
    account_id: str = "000000000000",
    mode: str = "append",
) -> None:
    """Batch/replay driver (the reference's 'copy objects into the bucket'
    workflow, README.md:78 — natively)."""
    process_batch(
        spark,
        read_fdr(spark, input_path),
        base_path,
        region=region,
        account_id=account_id,
        mode=mode,
    )


__all__ = ["batch_sinks", "process_batch", "run_batch", "parse_fdr_lines"]
