"""Incremental near-dup pair-graph maintenance — the streaming append
path for the ``near_dup_pairs`` artifact.

``dedup.near_dup_pairs`` is a build-once parquet artifact keyed on the
corpus fingerprint: any new document batch invalidates it and the next
consumer rebuilds the WHOLE pair graph from scratch.  This module is the
append path: each micro-batch of documents extends a persisted pair
snapshot with exactly the edges the batch introduces —

1. batch-internal pairs: banded self-join over the batch's MinHash band
   keys (``dedup_minhash_lsh``'s candidate rule), verified by exact
   Jaccard;
2. batch-vs-corpus pairs: the batch's band keys BROADCAST into an
   equi-join against the persisted corpus band index
   (``dedup_incremental``'s shape — the corpus is never re-profiled and
   no batch x corpus product exists), candidates verified by exact
   Jaccard against the corpus profiles;
3. the new edges append — exactly once — to the ``pairs`` snapshot, and
   the batch's bands + profiles append to the index future batches
   probe.

Every edge is discovered exactly once (in the micro-batch of its
later-arriving endpoint), so after a full drain the accumulated edge set
equals the one-shot ``dedup_minhash_lsh`` pair set over the union corpus
— band keys are deterministic per document, so the banded candidate rule
commutes with batching.  That equivalence is what the driver-oracled
``stream_graph_verify`` probe hashes, and it is what lets the graph
consumers (``dedup_cluster``'s connected components, PageRank, k-core)
run off the maintained artifact after every batch WITHOUT the full
rebuild.

Exactly-once comes from ``sinks/snapshot.py``'s per-writer txn
high-water mark, publication ordered pairs-first: a crash between the
pairs commit and the index commits replays the batch against an index
WITHOUT this batch's bands, so the same edges re-derive (its own bands
only land after its pairs commit) and every commit below the high-water
mark skips.

Scale shape: identical to ``streaming/curation.py`` — the per-batch work
is one profile pass over the batch plus band-key equi-joins whose corpus
side is the pre-built index, probed by bucket; the batch side broadcasts
(band keys are bands-per-doc-sized).  At 100 TB the bands snapshot is
the same clustered-manifest layout ``sinks/layout.py`` gives the
curation index.

Reference parity: the reference has no dedup or graph surface at all
(``qopcfdr_stream_loader.py`` ships events one at a time and never
compares two documents) — this is beyond-reference machinery for the
training-data pipeline (SURVEY.md §6), composed from driver-verified
parts (dedup_minhash_lsh, dedup_incremental, stream_curate_verify's
sequential-admission protocol).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import lsh_bands, minhash_profiles, postings_of
from ..sinks.snapshot import read_snapshot_or_none, write_snapshot
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream
from .curation import DOC_SCHEMA, _exact_jaccard

PAIRS_TABLE = "pairs"
BANDS_TABLE = "index/bands"
PROFILES_TABLE = "index/profiles"


def extend_pair_graph(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Appends the batch's new near-dup edges (canonical
    doc_a < doc_b, exact rounded Jaccard, stamped with the discovering
    batch) to the pairs snapshot, then the batch's bands + profiles to
    the probe index."""
    pairs_path = posixpath.join(out_path, PAIRS_TABLE)
    bands_path = posixpath.join(out_path, BANDS_TABLE)
    profiles_path = posixpath.join(out_path, PROFILES_TABLE)

    batch_df.persist()
    try:
        profiles = minhash_profiles(
            postings_of(batch_df.select("doc_id", "text"))
        ).persist()
        bands = lsh_bands(profiles)
        sh = profiles.select("doc_id", "shingles")

        # batch-internal candidates (a < b exactly once per pair)
        cand_in = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("a_doc"), F.col("b.doc_id").alias("b_doc")
            )
            .distinct()
        )
        edges = _exact_jaccard(
            cand_in,
            sh.select(F.col("doc_id").alias("a_doc"), F.col("shingles").alias("sh_a")),
            sh.select(F.col("doc_id").alias("b_doc"), F.col("shingles").alias("sh_b")),
        )

        # batch-vs-corpus: batch bands broadcast into the index join
        corpus_bands = read_snapshot_or_none(spark, bands_path)
        corpus_profiles = read_snapshot_or_none(spark, profiles_path)
        if corpus_bands is not None and corpus_profiles is not None:
            cand_vs = (
                corpus_bands.alias("c")
                .join(
                    F.broadcast(bands.alias("n")),
                    (F.col("c.band") == F.col("n.band"))
                    & (F.col("c.key") == F.col("n.key"))
                    & (F.col("c.doc_id") != F.col("n.doc_id")),
                )
                .select(
                    F.col("c.doc_id").alias("a_doc"),
                    F.col("n.doc_id").alias("b_doc"),
                )
                .distinct()
            )
            edges_vs = _exact_jaccard(
                cand_vs,
                corpus_profiles.select(
                    F.col("doc_id").alias("a_doc"),
                    F.col("shingles").alias("sh_a"),
                ),
                sh.select(
                    F.col("doc_id").alias("b_doc"), F.col("shingles").alias("sh_b")
                ),
            )
            edges = edges.unionByName(edges_vs)

        # canonical orientation: the corpus side of a vs-edge may carry
        # the larger doc_id (out-of-order arrival); the pair artifact's
        # contract is doc_a < doc_b
        new_pairs = edges.select(
            F.least("a_doc", "b_doc").alias("doc_a"),
            F.greatest("a_doc", "b_doc").alias("doc_b"),
            "jaccard",
            F.lit(batch_id).alias("batch_id"),
        )

        # exactly-once publication: pairs FIRST, index after (module
        # docstring: replay re-derives the same edges, commits skip)
        write_snapshot(
            spark, new_pairs, pairs_path, txn_app=txn_app, txn_version=batch_id
        )
        write_snapshot(
            spark, bands, bands_path, txn_app=txn_app, txn_version=batch_id
        )
        write_snapshot(
            spark,
            profiles.select("doc_id", "shingles"),
            profiles_path,
            txn_app=txn_app,
            txn_version=batch_id,
        )
        profiles.unpersist()
    finally:
        batch_df.unpersist()


def run_graph_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON document files (doc_id, text) through the pair-graph
    maintenance path: an exactly-once, incrementally-extended near-dup
    edge snapshot plus the band/profile index the next batch probes.
    ``compact_every=N`` re-clusters the snapshot tables after every
    N-th batch (replay-fenced, see ``streaming/compaction``)."""
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "graphmaint",
        lambda df, batch_id, txn_app: extend_pair_graph(
            spark, df, out_path, batch_id, txn_app=txn_app
        ),
        compact=CompactionSpec(
            out_path, [PAIRS_TABLE, BANDS_TABLE, PROFILES_TABLE], PROFILES_TABLE, compact_every
        ),
    )
