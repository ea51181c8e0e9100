"""Streaming EWMA monitor via ``applyInPandasWithState`` — the
cross-batch twin of ``plans.relational.events_ewma_anomaly``.

Per event_type, the operator keeps the last EWMA_HORIZON+1 observed
(slot, value) pairs as state (bounded: <= 17 scalars per key), and for
every newly observed 30-minute slot emits the SAME row the batch
operator computes: last value, horizon-bounded EWMA with power-of-two
decay, spike flag.  Because the decay weights are exact doubles and the
fold runs in the same ascending slot-distance order as the batch
expression (and the DuckDB oracle), streamed output equals the batch
output BIT-FOR-BIT — pinned by the equivalence test.

Late data: a slot older than the newest emitted slot still enters state
(it will weight future slots) but already-emitted rows stand — the
append-mode contract, same stance as the watermarked aggregates.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.relational import EWMA_HORIZON, EWMA_SPIKE_ABS, RESAMPLE_SECONDS
from ..sinks.snapshot import write_snapshot
from .compaction import read_json_stream, start_snapshot_stream

EWMA_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("slot_start_epoch", LongType()),
        StructField("last_value", DoubleType()),
        StructField("ewma", DoubleType()),
        StructField("is_spike", IntegerType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("slots", ArrayType(LongType())),
        StructField("xs", ArrayType(DoubleType())),
        StructField("max_emitted", LongType()),
    ]
)


def _round4(v: float) -> float:
    """Spark-compatible 4-dp rounding.  Python's round() is half-even;
    Spark's F.round is BigDecimal HALF_UP over the shortest decimal repr
    of the double (BigDecimal.valueOf == Double.toString == Python repr),
    so dyadic half-cases like 0.28125 must round UP (0.2813, not 0.2812)
    to keep the streamed row bit-identical to the batch operator."""
    return float(
        Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def ewma_monitor(
    events: DataFrame,
    *,
    horizon: int = EWMA_HORIZON,
    spike_abs: float = EWMA_SPIKE_ABS,
) -> DataFrame:
    """(event_type, ts, value) stream -> one EWMA row per newly observed
    (event_type, slot).  Works on a streaming or batch grouped frame."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            slots, xs, max_emitted = state.get
            hist = dict(zip(list(slots), list(xs)))
        else:
            hist, max_emitted = {}, -(1 << 62)

        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            yield from ()
            return
        batch["slot"] = (
            batch["ts"].astype("datetime64[us]").astype("int64") // 1_000_000
        ) // RESAMPLE_SECONDS
        # last value per slot = value at max ts (the batch op's max_by)
        picked = batch.sort_values(["slot", "ts"]).groupby("slot").tail(1)

        out_rows = []
        for _, r in picked.sort_values("slot").iterrows():
            slot, x = int(r["slot"]), float(r["value"])
            hist[slot] = x
            if slot <= max_emitted:
                continue  # late slot: updates state, emitted rows stand
            # ascending slot-distance fold — the batch/oracle order
            num = 0.0
            den = 0.0
            for s in sorted((s for s in hist if 0 <= slot - s <= horizon), reverse=True):
                w = 0.5 ** (slot - s)
                num = num + hist[s] * w
                den = den + w
            ewma_raw = num / den
            out_rows.append(
                {
                    "event_type": key[0],
                    "slot_start_epoch": slot * RESAMPLE_SECONDS,
                    "last_value": _round4(x),
                    "ewma": _round4(ewma_raw),
                    "is_spike": int(_round4(abs(x - ewma_raw)) >= spike_abs),
                }
            )
            max_emitted = slot
        # trim state to the horizon behind the newest slot seen
        newest = max(hist)
        hist = {s: v for s, v in hist.items() if s >= newest - horizon}
        ks = sorted(hist)
        state.update((ks, [hist[s] for s in ks], max_emitted))
        if out_rows:
            yield pd.DataFrame(out_rows)

    return events.select("event_type", "ts", "value").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _update,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_ewma_monitor(
    spark,
    input_path: str,
    checkpoint: str,
    queryName: str = "ewma_stream",
    *,
    max_files_per_trigger: int | None = None,
    output_path: str | None = None,
):
    """File-source driver: NDJSON events -> EWMA rows.  With
    ``output_path`` the rows append to a snapshot table via foreachBatch
    (the sink that supports CHECKPOINT RECOVERY — a restart with the same
    checkpoint resumes the per-key state and processes only new files;
    read it back with ``read_snapshot``).  Each batch commits with
    ``write_snapshot(txn_app=<checkpoint hash>, txn_version=batch_id)``:
    a batch replayed after a crash between the commit and the checkpoint
    advance writes nothing (it still runs the stateful plan, so the
    state stores commit), and one that died before its commit left only
    unreferenced staged files, so recovery is exactly-once for OUTPUT as
    well as state.  Without ``output_path``, a memory sink (single-run
    inspection only — Spark's memory sink cannot recover from a
    checkpoint)."""
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", StringType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = read_json_stream(spark, schema, input_path, max_files_per_trigger)
    out = ewma_monitor(stream.withColumn("ts", F.to_timestamp("ts")))
    if output_path is None:
        return (
            out.writeStream.format("memory")
            .queryName(queryName)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def _commit(df, batch_id: int, txn_app: str) -> None:
        if write_snapshot(
            spark, df, output_path, txn_app=txn_app, txn_version=batch_id
        ) is None:
            # a fenced replay must still run the stateful plan: Spark
            # fails the batch unless every state store partition
            # commits (STATE_STORE_COMMIT_VALIDATION_FAILED)
            df.write.format("noop").mode("overwrite").save()

    return start_snapshot_stream(out, checkpoint, "ewma", _commit)
