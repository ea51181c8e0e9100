"""E5: sink-side cast-failure quarantine.

The reference's Firehose JSON->Parquet conversion diverts records whose
typed cast fails to ``failures/<source>/`` prefixes
(create_qopcfdr_firehoses.py:137, serde config :165-187).  Our normalizer
builders cast raw strings inline (``raw['RemotePort'].cast('bigint')``),
and Spark's non-ANSI cast silently NULLs a malformed value — a port of
``"80x"`` would just vanish from the typed row.

This module makes those casts loud, mechanically: it walks each class's
projection expressions (their rendered form), finds every lossy cast
applied to a raw-map key (string -> numeric/boolean/timestamp/date), and
builds a per-row predicate "raw key present and non-empty, but its cast
is NULL".  Rows matching ANY such predicate are DIVERTED to the
``_quarantine/cast_failures`` side output instead of landing in the
table with nulled fields.  Self-maintaining — a new normalizer's casts
are discovered from its expressions, no hand-kept key lists — and pure
column expressions: no UDFs, no extra shuffle.

Scope note (FIDELITY): this is stricter than the reference in one spot —
a junk value feeding a decode() CASE (e.g. an unparseable LogonType)
quarantines here, where the reference's per-record ``int(...)`` would
crash the whole Lambda batch.  Diverting beats both crashing and
silently nulling.
"""

from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ocsf.schemas import TABLE_KEYS
from .normalize import class_columns
from .router import class_filter

# cast targets that can NULL a non-empty string; AS STRING etc. cannot
_LOSSY = re.compile(
    r"^(TINYINT|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DECIMAL(\(\d+,\s*\d+\))?"
    r"|BOOLEAN|TIMESTAMP(_NTZ)?|DATE)$"
)
_RAW_KEY = re.compile(r"raw\['([^']+)'\]")

# per-class scan results; expressions are pure so the scan is too
_SCAN_CACHE: dict[str, list[tuple[str, str]]] = {}
# split_cast_failures' CASE column, pure for the same reason
_BAD_FIELDS: list[Column] = []


# A cast site counts as DIRECT only when its input expression IS the raw
# value: a bare raw['K'] access, the nonempty() CASE form around one key,
# or a coalesce over those (alternate-key X6) and literals.  Anything
# else (derived values — FLOOR arithmetic, hashes, CASE selecting
# literals) is rejected: re-casting the raw string there would divert
# rows whose typed output is perfectly fine.  Unrecognized renderings
# also fall to rejected — conservative by construction.
_SHAPE_BARE = re.compile(r"^raw\['([^']+)'\]$")
_SHAPE_NONEMPTY = re.compile(
    r"^CASE WHEN and\(isNotNull\(raw\['([^']+)'\]\), "
    r"!\(=\(raw\['\1'\], ''\)\)\) THEN raw\['\1'\] END$"
)
_SHAPE_LITERAL = re.compile(r"^('[^']*'|\d+(\.\d+)?)$")


def _split_top_level(args: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for k, ch in enumerate(args):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(args[start:k].strip())
            start = k + 1
    parts.append(args[start:].strip())
    return parts


def _direct_keys(expr: str) -> list[str] | None:
    """Raw keys if ``expr`` is a direct raw-value access, else None."""
    expr = expr.strip()
    m = _SHAPE_BARE.match(expr) or _SHAPE_NONEMPTY.match(expr)
    if m:
        return [m.group(1)]
    if expr.startswith("coalesce(") and expr.endswith(")"):
        keys: list[str] = []
        for arg in _split_top_level(expr[len("coalesce(") : -1]):
            if _SHAPE_LITERAL.match(arg):
                continue
            sub = _direct_keys(arg)
            if sub is None:
                return None
            keys.extend(k for k in sub if k not in keys)
        return keys or None
    return None


def _cast_sites(text: str) -> list[tuple[tuple[str, ...], str]]:
    """((raw_keys in appearance order), cast_type) for every DIRECT lossy
    cast of raw-map values in one rendered expression."""
    out: list[tuple[tuple[str, ...], str]] = []
    i = 0
    while True:
        i = text.find("CAST(", i)
        if i < 0:
            return out
        j, depth = i + 5, 1
        while j < len(text) and depth:
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
            j += 1
        inner = text[i + 5 : j - 1]
        # the cast's own " AS <TYPE>" is the last top-level one
        k, depth, as_at = 0, 0, -1
        while k < len(inner):
            if inner[k] == "(":
                depth += 1
            elif inner[k] == ")":
                depth -= 1
            elif depth == 0 and inner.startswith(" AS ", k):
                as_at = k
            k += 1
        if as_at >= 0:
            cast_type = inner[as_at + 4 :].strip()
            if _LOSSY.match(cast_type):
                keys = _direct_keys(inner[:as_at])
                if keys:
                    out.append((tuple(keys), cast_type))
        i += 5
    return out


def lossy_raw_casts(
    table_key: str, cols: list[Column]
) -> list[tuple[tuple[str, ...], str]]:
    """Distinct (raw keys, cast type) sites a class's projection applies
    lossily, discovered from the rendered expressions."""
    cached = _SCAN_CACHE.get(table_key)
    if cached is not None:
        return cached
    pairs: set[tuple[tuple[str, ...], str]] = set()
    for c in cols:
        pairs.update(_cast_sites(repr(c)))
    result = sorted(pairs)
    _SCAN_CACHE[table_key] = result
    return result


def cast_failure_columns(
    pairs: list[tuple[tuple[str, ...], str]]
) -> tuple[Column, Column]:
    """(failure flag, array of offending raw keys) over the classified
    frame's ``raw`` map.  Multi-key sites replay the builders'
    alternate-key coalesce: the EFFECTIVE value (first present non-empty
    key) must cast."""
    if not pairs:
        return F.lit(False), F.array().cast("array<string>")
    markers = []
    for keys, cast_type in pairs:
        vals = [F.col("raw")[k] for k in keys]
        eff = F.coalesce(*[F.when(v != F.lit(""), v) for v in vals])
        # try_cast: NULL-on-malformed regardless of the session's ANSI
        # setting (Spark 4 defaults ANSI on; the probe must never throw)
        fails = eff.isNotNull() & eff.try_cast(cast_type.lower()).isNull()
        markers.append(F.when(fails, F.lit("|".join(keys))))
    bad = F.array_distinct(F.array_compact(F.array(*markers)))
    return F.size(bad) > 0, bad


def split_cast_failures(classified: DataFrame) -> DataFrame:
    """Add ``bad_fields``: the raw keys whose lossy cast in the row's own
    class would NULL a present value (empty if none; NULL without a sink).
    Its ``CASE`` over ``sink`` is built once per process, the first time
    with the 13 normalizer column lists made on 13 threads: py4j round
    trips, and pinned-thread py4j gives each Python thread a JVM thread."""
    if not _BAD_FIELDS:
        with ThreadPoolExecutor(max_workers=len(TABLE_KEYS)) as pool:
            sites = pool.map(lambda k: lossy_raw_casts(k, class_columns(k, classified)), TABLE_KEYS)
        cases = [(class_filter(k), cast_failure_columns(p)[1]) for k, p in zip(TABLE_KEYS, sites)]
        bad = F.when(*cases[0])
        for case in cases[1:]:
            bad = bad.when(*case)
        _BAD_FIELDS.append(bad)
    return classified.withColumn("bad_fields", _BAD_FIELDS[0])
