"""Incremental perceptual-hash image dedup — the streaming twin of
``dedup_phash`` (operators/multimodal.py): near-dup IMAGE pairs kept
current on a live corpus without re-hashing admitted images.  A
training-data ingest never re-sees its image corpus either: batches of
new images arrive, and each must be checked against everything admitted
so far (the ``dedup_incremental`` regime, streamed) — per batch the
Arrow decode/hash boundary runs over the BATCH only, and the corpus
index is probed, never rebuilt.

State under ``out_path`` (append-only snapshot tables, one writer
identity across both):

- ``index/bands`` — (key, band, doc_id, lo, hi) per admitted image,
  4 rows/doc, clustered by ``key`` (the 16-bit band value): the probe
  side.  Keys live in a DOMAIN of at most 65,536 values, so the
  batch's distinct-key collect is bounded by construction — the
  spanmaint/lmmaint prune-cap question does not arise.
- ``pairs`` — (doc_a, doc_b, hamming, batch_id): every near-dup pair
  (Hamming <= PHASH_HAMMING_MAX, banded candidate generation) whose
  LATER endpoint arrived in ``batch_id``.

Exactly-once: the batch's band rows commit to the index FIRST, then
the pairs are computed from the index READ BACK pruned to the batch's
band keys (never "prior snapshot ∪ in-memory batch"): on a
crash-replay whose index commit skipped, the index already holds the
batch — and joining the batch's signatures against an index that
CONTAINS the batch yields exactly the same pair set (every near-dup
pair with >= 1 endpoint in the batch, symmetric duplicates collapsed
by least/greatest + distinct, self-pairs excluded).  Pairs then commit
under the same writer's txn mark, so a full replay is fenced at both
tables.

Reference parity: the reference has no image pipeline (SURVEY.md §6) —
beyond-reference machinery composed from driver-verified parts
(``dedup_phash``'s signature/band pipeline, ``spanmaint``'s
probe-index protocol, ``dedup_incremental``'s batch-vs-corpus shape).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.multimodal import (
    PHASH_HAMMING_MAX,
    phash_bands,
    phash_hamming,
    phash_signatures,
)
from ..sinks.snapshot import probe_snapshot, write_snapshot
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream
from .curation import DOC_SCHEMA

INDEX_TABLE = "index/bands"
PAIRS_TABLE = "pairs"


def extend_phash(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Appends the batch's band rows to the probe index, then
    the batch's near-dup pairs (batch vs committed corpus INCLUDING
    the batch — see module docstring) to the pairs table."""
    index_path = posixpath.join(out_path, INDEX_TABLE)
    pairs_path = posixpath.join(out_path, PAIRS_TABLE)

    sigs = phash_signatures(batch_df.select("doc_id")).persist()
    batch_bands = phash_bands(sigs).persist()
    try:
        # two consumers below (index append, pair probe) — materialize
        # so the Arrow decode/hash passes run once per batch
        batch_bands.count()

        # ---- index append FIRST (the lmmaint read-back protocol) ----
        write_snapshot(
            spark,
            batch_bands.select("key", "band", "doc_id", "lo", "hi"),
            index_path,
            txn_app=txn_app,
            txn_version=batch_id,
            cluster_col="key",
        )

        # ---- pairs from the committed index, key-pruned -------------
        # the key set is domain-bounded (<= 65,536 16-bit values, under
        # snapshot.PRUNE_MAX_KEYS), so the probe always prunes
        corpus = probe_snapshot(spark, index_path, batch_bands.select("key"))
        if corpus is None:  # no committed files can match: no pairs
            pairs = spark.createDataFrame(
                [], "doc_a long, doc_b long, hamming long"
            )
        else:
            a = batch_bands.alias("a")
            b = corpus.alias("b")
            ham = phash_hamming()
            pairs = (
                a.join(
                    # the corpus side is derived snapshot data whose
                    # static estimate must never pick a broadcast
                    b.hint("shuffle_hash"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                )
                .select(
                    F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                    ham.alias("hamming"),
                )
                .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
                .distinct()
            )
        write_snapshot(
            spark,
            pairs.withColumn("batch_id", F.lit(batch_id).cast("long")),
            pairs_path,
            txn_app=txn_app,
            txn_version=batch_id,
        )
    finally:
        batch_bands.unpersist()
        sigs.unpersist()


def run_phash_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON document files (doc_id, text) through incremental
    image near-dup maintenance: exactly-once index/pairs snapshots,
    with compaction of both tables on the shared cadence."""
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "phash",
        lambda df, batch_id, txn_app: extend_phash(
            spark, df, out_path, batch_id, txn_app=txn_app
        ),
        compact=CompactionSpec(out_path, [INDEX_TABLE, PAIRS_TABLE], INDEX_TABLE, compact_every),
    )
