"""Streamed training-data EXPORT — the incremental composition of the
two pipeline stages the batch anchor ``corpus_export_verify`` chains:
curation (admit each batch against everything already accepted —
``streaming/curation.py``) feeding sequence packing (append the
admitted docs to the SAME token stream earlier batches packed —
``streaming/packing.py``), in ONE foreachBatch, exactly once.

This is the full LLM-training-data dataflow as a live pipeline: raw
document drops in, packed training sequences out, with the dedup index
and the running token total both maintained incrementally.  Layout
under the output root:

- ``curate/`` — the curation twin's three tables (docs / index/bands /
  index/profiles);
- ``pack/``   — the packing twin's two tables (packed / state).

Stage coupling: the packer's input is the curated DOCS TABLE read back
filtered to this batch_id — not the in-memory survivor frame — so the
packed assignment is a deterministic function of committed state on
EVERY path (first run, replay after a crash inside curation, replay
after a crash between the stages): curation's commits are fenced, so
the read-back admitted set is identical in all three, and
``pack_batch``'s own packed->state ordering argument covers crashes
inside the packing stage (``packing.py`` module docstring).  One
writer identity spans both stages — five tables, one txn high-water
mark per table, the spanmaint argument at pipeline width.

Scale shape: each stage keeps its own 100 TB design (broadcast
increment-side band probes against the clustered index, the two-pass
distributed prefix sum with one-row state); the composition adds ONE
column-pruned read of the batch's own admitted rows between them.

Reference parity: the reference has no training-data stage (SURVEY.md
§6) — beyond-reference machinery composed from driver-verified parts
(``stream_curate_verify``, ``stream_pack_verify``,
``corpus_export_verify``).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sinks.snapshot import read_snapshot
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream
from .curation import BANDS_TABLE, DOC_SCHEMA, DOCS_TABLE, PROFILES_TABLE, curate_batch
from .packing import PACKED_TABLE, pack_batch

CURATE_DIR = "curate"
PACK_DIR = "pack"


def export_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Curate the batch, then pack exactly the rows curation
    committed for this batch (read BACK — see module docstring's
    replay argument)."""
    curate_out = posixpath.join(out_path, CURATE_DIR)
    curate_batch(spark, batch_df, curate_out, batch_id, txn_app=txn_app)
    # O(batch), not O(corpus): every docs append carries ONE batch_id
    # literal, so each file's parquet row-group stats on batch_id are a
    # point — the pushed-down equality filter (PushedFilters in the
    # scan) skips every other batch's row groups at footer cost, and
    # compaction bounds the live-file count that metadata pass touches.
    admitted = (
        read_snapshot(spark, posixpath.join(curate_out, DOCS_TABLE))
        .filter(F.col("batch_id") == batch_id)
        .select("doc_id", "text")
    )
    pack_batch(
        spark, admitted, posixpath.join(out_path, PACK_DIR), batch_id,
        txn_app=txn_app,
    )


def run_export_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON document files (doc_id, text) through the composed
    curate -> pack pipeline: exactly-once curated corpus + dedup index
    + packed-sequence snapshots.  The shared compaction cadence covers
    the pipeline's growing tables (the curate corpus/index and the
    packed table; the one-row state table never needs it)."""
    tables = [
        posixpath.join(CURATE_DIR, t) for t in (DOCS_TABLE, BANDS_TABLE, PROFILES_TABLE)
    ] + [posixpath.join(PACK_DIR, PACKED_TABLE)]
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "export",
        lambda df, batch_id, txn_app: export_batch(
            spark, df, out_path, batch_id, txn_app=txn_app
        ),
        compact=CompactionSpec(
            out_path, tables, posixpath.join(CURATE_DIR, PROFILES_TABLE), compact_every
        ),
    )
