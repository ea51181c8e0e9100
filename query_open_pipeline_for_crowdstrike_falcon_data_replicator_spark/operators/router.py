"""Event classification and 13-way routing.

The reference does this per record in Python: a linear scan of the 122-row
mapping per record (O(122), qopcfdr_stream_loader.py:90,:279), a 12-way
if/elif class dispatch (:150-214), and one SQS message per record (S5).
Spark-first replacement:

- R1: ONE constant-map lookup on ``event_name`` — the 122-row mapping is a
  constant of the plan, so there is no join, no mapping relation and no
  shuffle of the event stream;
- R2/R3: the same lookup names each line's sink (``sink``), so class
  dispatch is data, and the 13 sinks are 13 filtered projections of one
  classified frame (``pipeline.batch_sinks`` persists it once per batch);
- P2/E2: every parsed line is kept; an event the mapping does not know
  has a NULL ``sink``, which is the unmapped side table's filter.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ocsf.event_mapping import EVENT_FIELDS, EVENT_ROWS
from ..ocsf.schemas import OCSF_SCHEMAS, TABLE_KEYS
from .normalize import normalize_class

_CLASS_SINK = {OCSF_SCHEMAS[k][0]: k for k in TABLE_KEYS if k != "http_activity_extapi"}
_LOOKUP_TYPE = "map<string, struct<sink: string, {}>>".format(", ".join(
    f"{n}: {'bigint' if n.endswith(('_uid', '_id')) else 'string'}" for n in EVENT_FIELDS[1:]
))


def _lookup_json() -> str:
    """The 122 rows as one JSON object: event_name -> {sink, 10 mapping
    columns}.  Event_ExternalApiEvent is the reference's special case
    (qopcfdr_stream_loader.py:154-158): it shares OCSF class 4002 with
    http_activity but has its own sink and shape."""
    rows = {event: dict(zip(EVENT_FIELDS[1:], mapping)) for event, *mapping in EVENT_ROWS}
    for event, cols in rows.items():
        extapi = event == "Event_ExternalApiEvent"
        cols["sink"] = "http_activity_extapi" if extapi else _CLASS_SINK[cols["class_name"]]
    return json.dumps(rows)


_LOOKUP_JSON = _lookup_json()


def classify(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """R1: add ``sink`` and the 10 mapping columns to every parsed line
    (NULL for an unknown or missing event) by one lookup in a JSON literal
    that the optimizer folds into a constant map: no join, a small plan."""
    lookup = F.from_json(F.lit(_LOOKUP_JSON), _LOOKUP_TYPE)[F.col("event_name")]
    return parsed.withColumn("_mapping", lookup).select(
        *parsed.columns, *(F.col("_mapping")[c].alias(c) for c in ("sink", *EVENT_FIELDS[1:]))
    )


def unmapped_events(classified: DataFrame) -> DataFrame:
    """E2 side channel: events with a discriminator but no mapping row —
    a real side table instead of the reference's warn+drop log lines."""
    named = classified.filter(F.col("event_name").isNotNull())
    return named.filter(F.col("sink").isNull()).select("event_name", "value")


def class_filter(table_key: str) -> F.Column:
    """Routing predicate for one sink (R3) over a classified frame."""
    return F.col("sink") == table_key


def normalized_tables(classified: DataFrame) -> dict[str, DataFrame]:
    """One normalized DataFrame per OCSF sink from a classified stream."""
    return {
        key: normalize_class(classified.filter(class_filter(key)), key)
        for key in TABLE_KEYS
    }
