"""FDR epoch-string -> timestamp coercion (reference
qopcfdr_stream_loader.py:216-225).

The reference tries ``datetime.fromtimestamp(float(x))`` (seconds) and, on
ValueError (year > 9999), retries with ``x/1000`` (milliseconds).  The exact
seconds-vs-milliseconds pivot is therefore the datetime year-10000 limit:
epoch seconds 253402300800.  It then truncates to millisecond precision
(``strftime('%f')[:-3]``) in the UTC Lambda timezone.

Here: one column expression, millisecond truncation, session timezone
pinned to UTC by the caller.  Where ``fromtimestamp`` would raise (not a
finite number, or seconds outside year 1..9999) the result is NULL, never
an exception, so ``Common.typed`` can quarantine the row.  Missing
timestamps default to the reference's 1998-04-24 sentinel
(qopcfdr_stream_loader.py:254-255).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# epoch-seconds range of datetime.fromtimestamp: 0001-01-01 up to the
# year-10000 overflow
_SECONDS_MIN = -62135596800.0
_SECONDS_LIMIT = 253402300800.0

# "24 APR 1998 02:07:39 GMT" — default for events missing `timestamp`
TIMESTAMP_SENTINEL = "893383659000"


def fdr_timestamp(col: Column) -> Column:
    """Parse an FDR epoch string (seconds or milliseconds, autodetected the
    way the reference does) into a millisecond-precision TimestampType;
    NULL unless the autodetected seconds are a number in year 1..9999 (NaN
    compares above every number in Spark, so it lands out of range)."""
    d = col.try_cast("double")
    # seconds in year 1..9999 exactly when d is seconds >= the minimum or
    # milliseconds below 1000 x the limit; NULL scale elsewhere.  d is
    # referenced 4 times: castcheck evaluates this inside a CASE branch,
    # where Spark does not share common subexpressions.
    scale = F.when(
        (d >= _SECONDS_MIN) & (d < _SECONDS_LIMIT * 1000),
        F.when(d >= _SECONDS_LIMIT, F.lit(1000.0)).otherwise(F.lit(1.0)),
    )
    return F.timestamp_millis(F.floor(d / scale * 1000))
