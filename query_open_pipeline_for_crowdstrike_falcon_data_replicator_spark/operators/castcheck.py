"""E5: sink-side cast-failure quarantine.

The reference's Firehose JSON->Parquet conversion diverts records whose
typed cast fails to ``failures/<source>/`` prefixes
(create_qopcfdr_firehoses.py:137, serde config :165-187).  Here every
conversion of an input string to a number or a timestamp goes through
``Common.typed`` (functions/builders.py): it converts with try-semantics,
so a malformed value is NULL under either ANSI setting, and it records
one (label, present value, typed value) site per conversion of the class
being built.

This module turns that record into a per-row predicate "value present
and non-empty, but its typed value is NULL".  Rows matching ANY site of
their class are DIVERTED to the ``_quarantine/cast_failures`` side
output instead of landing in the table with nulled fields.  The
predicate reads the very Column the projection emits, so the two cannot
disagree, and it is a pure column expression: no UDFs, no extra shuffle.

Scope note (FIDELITY): the reference's per-record ``int(...)`` /
``float(...)`` would crash the whole Lambda batch on such a value;
diverting beats both crashing and silently nulling.  Decoded codes are
compared as strings, not converted, so an unknown code (e.g. a
``LogonType`` of ``"x"``) decodes to the class default and is not a cast
failure.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.builders import CastSite
from ..ocsf.schemas import TABLE_KEYS
from .normalize import class_casts, class_columns
from .router import class_filter

# split_cast_failures' CASE column; expressions are pure, so it is built
# once per process
_BAD_FIELDS: list[Column] = []


def lossy_raw_casts(table_key: str, cols: list[Column]) -> list[CastSite]:
    """The cast sites a class's projection ``cols`` makes, as recorded by
    its builder (``cols`` comes from ``class_columns``, whose build made
    the record)."""
    return class_casts(table_key)


def cast_failure_columns(sites: list[CastSite]) -> tuple[Column, Column]:
    """(failure flag, array of the offending labels, sorted): a site fails
    when its value is present but its typed value is NULL.  Every class
    has at least one site (its event time)."""
    markers = [
        F.when(present.isNotNull() & typed.isNull(), F.lit(label))
        for label, present, typed in sorted(sites, key=lambda site: site[0])
    ]
    bad = F.array_compact(F.array(*markers))
    return F.size(bad) > 0, bad


def split_cast_failures(classified: DataFrame) -> DataFrame:
    """Add ``bad_fields``: the labels of the row's own class whose present
    value did not convert (empty if none; NULL without a sink).  Its
    ``CASE`` over ``sink`` is built once per process, the first time with
    the 13 normalizer column lists made on 13 threads: py4j round trips,
    and pinned-thread py4j gives each Python thread a JVM thread."""
    if not _BAD_FIELDS:
        with ThreadPoolExecutor(max_workers=len(TABLE_KEYS)) as pool:
            sites = pool.map(lambda k: lossy_raw_casts(k, class_columns(k, classified)), TABLE_KEYS)
        cases = [(class_filter(k), cast_failure_columns(s)[1]) for k, s in zip(TABLE_KEYS, sites)]
        bad = F.when(*cases[0])
        for case in cases[1:]:
            bad = bad.when(*case)
        _BAD_FIELDS.append(bad)
    return classified.withColumn("bad_fields", _BAD_FIELDS[0])
