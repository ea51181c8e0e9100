"""Incremental hard-negative triplet mining — the streaming twin of
``similarity.embedding_triplets_ivf`` (the ``graphmaint`` precedent:
round-6 VERDICT item #8).

A contrastive-training corpus is never closed: embedding batches keep
arriving, and the miner must emit triplets for NEW anchors against
everything already admitted without re-scanning old pairs or re-mining
old anchors.  This module maintains exactly that over three persisted
snapshot tables under the output root:

- ``index/cells`` — the growing IVF assignment (neighbor_id, label, cu,
  cell): each batch is assigned to the FIXED quantizer (centroids
  trained once, on the FIRST batch's deterministic %5 sample, stored in
  ``_triplet_meta.json``) and appended — a batch costs one pass over
  the increment, never a corpus re-assignment (``ivf_refresh_index``'s
  shape, drift-retraining deliberately out of scope here);
- ``pairs`` — positive pairs (vec_a < vec_b, unit-dot cosine >=
  TRIPLET_POS_TAU, same label).  Ascending vec_id arrival means a pair
  is NEW exactly when its max member arrives, so each batch finds its
  new pairs with one label-equi join of the batch (broadcast) against
  corpus-so-far ∪ batch — old pairs are never re-derived;
- ``triplets`` — one row per positive pair with the ANCHOR's hard
  negative.  An anchor is mined ONCE, in the batch its first pair
  appears (B_a), against the corpus as of B_a: probe its IVF_NPROBE
  nearest cells (the shared ``_ivf_probe_scored`` serving stage),
  exclude self + partners realized by B_a, rank-1 by (cosine desc, id
  asc).  Pairs arriving later for an already-mined anchor join the
  anchor's existing negative — the "no re-mining" semantics the
  sequential oracle replays.

Exactly-once: all three tables commit through ``sinks/snapshot.py``'s
per-writer txn marks, ordered pairs -> triplets -> index.  Every batch
output is a deterministic function of (pre-batch snapshots, batch), so
a crash between commits replays to identical rows and at-or-below-mark
commits skip — the ``spanmaint`` argument, table count three.

Scale shape: the batch side broadcasts into both corpus-sized joins
(the label-blocked pair join and the mined-anchors anti-join); the
index is written clustered by label (``write_snapshot(cluster_col=
"label")``), so the pair join's corpus read prunes to the batch's
distinct labels via the manifest stats (``probe_snapshot`` — the
same trickle-regime mechanics as the window/band indexes, and labels
are low-cardinality, so pruning holds even for bulk batches); the
negative probe touches ~nprobe/K of the corpus by construction.  At
100 TB the positive stage rides the capped-block + LSH union exactly as
the batch form does (``_triplet_block_candidates``); the fixture-scale
streamed form keeps plain within-label pairing, which the oracle
replays.

Reference parity: the reference never compares events (SURVEY.md §6) —
beyond-reference machinery composed from driver-verified parts
(``embedding_triplets_ivf``, ``stream_span_verify``'s sequential
protocol).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..operators.similarity import (
    IVF_CELLS,
    TRIPLET_POS_TAU,
    _dot,
    _ivf_probe_scored,
    _ivf_train,
    _nearest_cell,
    _norm,
    _probe_cells,
    _rank1_negatives,
)
from ..sinks.snapshot import (
    probe_snapshot,
    read_snapshot_or_none,
    write_snapshot,
)
from ..sinks.fsutil import json_meta_io
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("label", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

PAIRS_TABLE = "pairs"
TRIPLETS_TABLE = "triplets"
INDEX_TABLE = "index/cells"
_META = "_triplet_meta.json"


def _meta_io(spark: SparkSession, out_path: str):
    return json_meta_io(spark, out_path, _META)


def extend_triplets(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Appends the batch's new positive pairs, the new anchors'
    mined triplets, and the batch's index assignment."""
    pairs_path = posixpath.join(out_path, PAIRS_TABLE)
    triplets_path = posixpath.join(out_path, TRIPLETS_TABLE)
    index_path = posixpath.join(out_path, INDEX_TABLE)

    batch = (
        batch_df.select("vec_id", "label", F.col("embedding").alias("v"))
        .withColumn("nrm", _norm(F.transform(F.col("v"), lambda x: x.cast("double"))))
        .select(
            "vec_id",
            "label",
            F.transform(
                F.col("v"), lambda x: x.cast("double") / F.col("nrm")
            ).alias("u"),
        )
        .persist()
    )
    new_pairs = None
    assigned = None
    try:
        read_meta, write_meta = _meta_io(spark, out_path)
        meta = read_meta()
        if meta is None:
            # quantizer trains ONCE, on the first batch's %5 sample —
            # the stored model every later batch assigns against
            cents = _ivf_train(batch.filter(F.col("vec_id") % 5 == 0), spark)
        else:
            cents = meta["centroids"]

        # persisted + materialized: four consumers (the pair join's lower
        # side, the probe's index union, the clustered write's sampler,
        # the write itself) would otherwise each recompute the
        # normalize + argmin per row (the annmaint multi-consumer lesson)
        assigned = batch.select(
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.col("u").alias("cu"),
            _nearest_cell(F.col("u"), cents).alias("cell"),
        ).persist()
        assigned.count()

        # new positive pairs: batch members as the HIGHER (new) side vs
        # the label-pruned corpus read ∪ the batch itself as lower side
        corpus = probe_snapshot(spark, index_path, batch.select("label"))
        lower = assigned.select(
            F.col("neighbor_id").alias("vec_a"),
            "label",
            F.col("cu").alias("ua"),
        )
        if corpus is not None:
            lower = corpus.select(
                F.col("neighbor_id").alias("vec_a"),
                "label",
                F.col("cu").alias("ua"),
            ).unionByName(lower)
        hi = batch.select(
            F.col("vec_id").alias("vec_b"), "label", F.col("u").alias("ub")
        )
        pcos = F.round(_dot(F.col("ua"), F.col("ub")), 4)
        new_pairs = (
            lower.join(F.broadcast(hi), "label")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", pcos.alias("cosine"))
            .filter(F.col("cosine") >= TRIPLET_POS_TAU)
            .persist()
        )
        new_pairs.count()  # materialize: three consumers below

        # anchors whose FIRST pair is in this batch.  "Already mined"
        # is keyed on the PAIRS table, not the triplets table: mining
        # happens at the anchor's first pair's batch even when it finds
        # no admissible negative (probed cells all partners/self), and
        # such an anchor must never be re-mined against a later, larger
        # corpus — the sequential oracle freezes mining at
        # min(pair_batch), and a triplets-presence key would silently
        # re-mine exactly the no-negative anchors
        prior_pairs = read_snapshot_or_none(spark, pairs_path)
        anchors = new_pairs.select(F.col("vec_a").alias("query_id")).distinct()
        if prior_pairs is not None:
            anchors = anchors.join(
                prior_pairs.select(
                    F.col("vec_a").alias("query_id")
                ).distinct(),
                "query_id",
                "left_anti",
            )
        anchors_u = anchors.join(
            batch.select(F.col("vec_id").alias("query_id"), "u").unionByName(
                corpus.select(
                    F.col("neighbor_id").alias("query_id"),
                    F.col("cu").alias("u"),
                )
                if corpus is not None
                else spark.createDataFrame(
                    [], "query_id long, u array<double>"
                )
            ),
            "query_id",
        )

        # mine: probe cells against corpus-so-far ∪ this batch
        prior_index = read_snapshot_or_none(spark, index_path)
        full_index = (
            prior_index.select("neighbor_id", "cu", "cell").unionByName(
                assigned.select("neighbor_id", "cu", "cell")
            )
            if prior_index is not None
            else assigned.select("neighbor_id", "cu", "cell")
        )
        probe = _probe_cells(spark, anchors_u, cents)
        scored = _ivf_probe_scored(probe, full_index).select(
            F.col("query_id").alias("anchor"),
            "neighbor_id",
            F.col("cosine").alias("cos_an"),
        )
        realized = (
            prior_pairs.select("vec_a", "vec_b").unionByName(
                new_pairs.select("vec_a", "vec_b")
            )
            if prior_pairs is not None
            else new_pairs.select("vec_a", "vec_b")
        )
        partners = realized.select(
            F.col("vec_a").alias("anchor"), F.col("vec_b").alias("neighbor_id")
        ).unionByName(
            realized.select(
                F.col("vec_b").alias("anchor"),
                F.col("vec_a").alias("neighbor_id"),
            )
        )
        negatives = _rank1_negatives(scored, partners)
        triplet_rows = negatives.select(
            "anchor",
            "negative",
            "cos_an",
            F.lit(batch_id).cast("long").alias("mined_batch"),
        )

        # exactly-once publication: pairs -> triplets -> index (module
        # docstring: replay re-derives identical rows; commits skip)
        write_snapshot(
            spark,
            new_pairs.select(
                "vec_a",
                "vec_b",
                "cosine",
                F.lit(batch_id).cast("long").alias("batch_id"),
            ),
            pairs_path,
            txn_app=txn_app,
            txn_version=batch_id,
        )
        write_snapshot(
            spark, triplet_rows, triplets_path,
            txn_app=txn_app, txn_version=batch_id,
        )
        write_snapshot(
            spark, assigned, index_path,
            txn_app=txn_app, txn_version=batch_id,
            cluster_col="label",
        )
        if meta is None:
            write_meta({"centroids": cents})
    finally:
        if new_pairs is not None:
            new_pairs.unpersist()
        if assigned is not None:
            assigned.unpersist()
        batch.unpersist()


def run_triplet_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
):
    """Stream NDJSON embedding files (vec_id, label, embedding) through
    incremental triplet mining: exactly-once pairs / triplets / index
    snapshots.  ``compact_every=N`` re-clusters the snapshot tables
    after every N-th batch (replay-fenced, see
    ``streaming/compaction``)."""
    return start_snapshot_stream(
        read_json_stream(spark, EMB_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "triplet",
        lambda df, batch_id, txn_app: extend_triplets(
            spark, df, out_path, batch_id, txn_app=txn_app
        ),
        compact=CompactionSpec(
            out_path, [PAIRS_TABLE, TRIPLETS_TABLE, INDEX_TABLE], INDEX_TABLE, compact_every
        ),
    )
