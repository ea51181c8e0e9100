"""Incremental ANN index maintenance + between-batch serving — the
streaming twin of ``similarity.ivf_build_index``/``ivf_query_index``
(the ``graphmaint``/``tripletmaint`` precedent).

A retrieval corpus is never closed: embedding batches keep arriving,
and the index must answer top-k queries BETWEEN ingests without a
rebuild.  This module maintains exactly that over two persisted
snapshot tables under the output root:

- ``index/cells`` — the growing IVF assignment (neighbor_id, cu,
  cell): each batch is assigned to the FIXED quantizer (centroids
  trained once, on the FIRST batch's deterministic %5 sample, stored
  with the frozen query set in ``_ann_meta.json``) and appended
  clustered by cell — a batch costs one pass over the increment, never
  a corpus re-assignment.  ``retrain_drift`` arms drift monitoring
  (``ivf_refresh_index``'s rule, streamed): a drifted batch triggers a
  retrain + full reassignment + one overwrite commit (see
  ``extend_ann_index``); the default fixed-model regime is what the
  sequential driver oracle replays;
- ``serves`` — the serving evidence: after each ingest the FIXED query
  set (the corpus members with vec_id < N_QUERIES, all in batch 0) is
  answered top-TOP_K against the index as of that batch, so the table
  records the full recall trajectory (batch_id, query_id, rank,
  neighbor_id, cosine) as the corpus grows.

Exactly-once: both tables commit through ``sinks/snapshot.py``'s
per-writer txn marks, ordered serves -> index.  Every batch output is
a deterministic function of (pre-batch snapshots, batch), so a crash
between the two commits replays to identical rows and at-or-below-mark
commits skip — the ``spanmaint`` argument, table count two.

Scale shape: the query set's probe cells are computed driver-side from
the stored model (``ivf_probe_cells`` — n_queries x IVF_NPROBE dot
products, no job), and the corpus read prunes to those cells through
the clustered index's manifest stats (``read_snapshot_pruned``) — a
serve touches ~nprobe/K of the corpus by construction, the same
partition-pruned probe ``ivf_query_index`` runs against a batch-built
index.  The batch side broadcasts into the probe join (micro-batch
sized), and assignment is one narrow pass over the increment.

Reference parity: the reference never serves vector queries (SURVEY.md
§6) — beyond-reference machinery composed from driver-verified parts
(``ann_topk_ivf``, ``stream_span_verify``'s sequential protocol).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ..operators.similarity import (
    ASSIGN_JOIN_MIN_CELLS,
    IVF_CELLS,
    N_QUERIES,
    TOP_K,
    _ivf_probe_scored,
    _ivf_train,
    _nearest_cell,
    _norm,
    _probe_cells,
    assign_cells,
    ivf_probe_cells,
)
from ..sinks.snapshot import (
    read_snapshot_or_none,
    read_snapshot_pruned,
    write_snapshot,
)
from ..sinks.fsutil import json_meta_io
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

SERVES_TABLE = "serves"
INDEX_TABLE = "index/cells"
_META = "_ann_meta.json"


def _meta_io(spark: SparkSession, out_path: str):
    return json_meta_io(spark, out_path, _META)


def _assign(vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, u) -> (neighbor_id, cu, cell) under the assignment
    dispatcher semantics (assign_cells): literal argmin below
    ASSIGN_JOIN_MIN_CELLS, broadcast centroid-table join above (codegen
    size stays flat as K grows to thousands of cells)."""
    if len(cents) < ASSIGN_JOIN_MIN_CELLS:
        return vecs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("u").alias("cu"),
            _nearest_cell(F.col("u"), cents).alias("cell"),
        )
    return vecs.join(
        assign_cells(vecs, cents).select("vec_id", "cell"), "vec_id"
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("u").alias("cu"),
        "cell",
    )


def _mean_sim(spark: SparkSession, assigned: DataFrame, cents) -> float:
    """Mean cosine of each assigned vector to its centroid — the
    quantizer-quality scalar the drift check compares — from the
    already-persisted assignment (one cheap pass, no re-argmin).
    Rounded to 6 decimals (the Lloyd-mean convention): a distributed
    float average is partition-order dependent at ~1e-15, and the
    drift decision must land on the same side of the threshold on
    every replay for the no-fencing replay argument to hold."""
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, c array<double>",
    )
    from ..operators.similarity import _dot

    return round(
        float(
            assigned.join(F.broadcast(cdf), "cell")
            .agg(F.avg(_dot(F.col("cu"), F.col("c"))).alias("m"))
            .collect()[0]["m"]
        ),
        6,
    )


def extend_ann_index(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
    n_cells: int = IVF_CELLS,
    retrain_drift: float | None = None,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Appends the batch's cell assignment and the fixed query
    set's top-k serve against the index as of this batch.  ``n_cells``
    sizes the quantizer trained on the FIRST batch (later batches read
    the stored model, so the knob is ignored once meta exists).

    ``retrain_drift`` arms quantizer-drift monitoring
    (``ivf_refresh_index``'s rule, streamed): when the batch's mean
    assignment similarity falls more than the threshold below the
    stored batch-0 baseline, the quantizer no longer represents the
    data — the index is REBUILT on corpus ∪ batch (retrain + reassign +
    one overwrite commit) and the serve runs against the rebuilt index.
    Replay-deterministic without extra fencing: the drift decision
    reads only (stored baseline, batch); the retrain's input is the
    (vec_id, unit-vector) SET — deduped by ``vec_id``, so even when a
    crash lands after the index overwrite committed but before
    ``write_meta`` (the replayed corpus already holds the batch), the
    retrain sees exactly corpus ∪ batch — and Lloyd means are rounded,
    so a crash between the commits replays to identical rows and
    at-or-below-mark commits skip, exactly as on the append path.  ``None`` (default)
    keeps the fixed-model regime the sequential driver oracle replays."""
    serves_path = posixpath.join(out_path, SERVES_TABLE)
    index_path = posixpath.join(out_path, INDEX_TABLE)

    batch = (
        batch_df.select("vec_id", F.col("embedding").alias("v"))
        .withColumn(
            "nrm", _norm(F.transform(F.col("v"), lambda x: x.cast("double")))
        )
        .select(
            "vec_id",
            F.transform(
                F.col("v"), lambda x: x.cast("double") / F.col("nrm")
            ).alias("u"),
        )
        .persist()
    )
    assigned = None
    union = None
    try:
        read_meta, write_meta = _meta_io(spark, out_path)
        meta = read_meta()
        if meta is None:
            # quantizer trains ONCE, on the first batch's %5 sample; the
            # query set freezes with it (vec_id < N_QUERIES — batch 0
            # members under ascending arrival, bounded driver state)
            cents = _ivf_train(
                batch.filter(F.col("vec_id") % 5 == 0), spark, k=n_cells
            )
            qrows = [
                (int(r["vec_id"]), [float(x) for x in r["u"]])
                for r in batch.filter(F.col("vec_id") < N_QUERIES).collect()
            ]
        else:
            cents = meta["centroids"]
            qrows = [(int(i), [float(x) for x in u]) for i, u in meta["queries"]]

        # Persisted + materialized: the serve's candidate union, the
        # drift scalar, and the index commit all consume the assignment,
        # and the K dot products per row are the batch's dominant cost —
        # recomputing them per consumer doubled the per-batch wall at
        # K=256 (the embedding_triplets multi-consumer lesson; the
        # count() forces the fill since the consumers run in separate
        # actions)
        assigned = _assign(batch, cents).persist()
        assigned.count()

        drifted = False
        new_baseline = None
        if meta is not None and retrain_drift is not None:
            baseline = meta.get("mean_sim")
            inc_sim = _mean_sim(spark, assigned, cents)
            if baseline is not None and baseline - inc_sim > retrain_drift:
                # rebuild on corpus ∪ batch: unit vectors come from the
                # index itself (cells are derived data, the (vec_id, u)
                # set is overwrite-invariant — the replay argument in
                # the docstring)
                drifted = True
                prior_full = read_snapshot_or_none(spark, index_path)
                union = batch.select("vec_id", "u")
                if prior_full is not None:
                    union = prior_full.select(
                        F.col("neighbor_id").alias("vec_id"),
                        F.col("cu").alias("u"),
                    ).unionByName(union)
                # SET, not multiset: a crash between the index overwrite
                # and write_meta replays this branch with prior_full
                # already containing the batch — without the dedup the
                # retrain would see every batch row twice and Lloyd
                # would converge to different centroids than the crashed
                # run committed, silently desyncing meta from the
                # index's cell assignment
                union = union.dropDuplicates(["vec_id"]).persist()
                union.count()
                cents = _ivf_train(
                    union.filter(F.col("vec_id") % 5 == 0),
                    spark,
                    k=len(cents),
                )
                assigned.unpersist()
                assigned = _assign(union, cents).persist()
                assigned.count()
                new_baseline = _mean_sim(spark, assigned, cents)

        # probe cells from the stored model, driver-side (no job); the
        # corpus read prunes to them via the clustered manifest stats
        cells = sorted({c for _, qu in qrows for c in ivf_probe_cells(qu, cents)})
        qdf = spark.createDataFrame(qrows, "query_id long, u array<double>")
        probe = _probe_cells(spark, qdf, cents)
        if drifted:
            # the rebuilt assignment IS the whole corpus
            full = assigned
        else:
            prior = read_snapshot_pruned(spark, index_path, cells)
            full = (
                assigned
                if prior is None
                else prior.select("neighbor_id", "cu", "cell").unionByName(
                    assigned
                )
            )
        scored = _ivf_probe_scored(F.broadcast(probe), full)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        serves = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "query_id",
                "rank",
                "neighbor_id",
                "cosine",
            )
        )

        # exactly-once publication: serves -> index (module docstring:
        # replay re-derives identical rows; at-or-below-mark commits skip)
        write_snapshot(
            spark, serves, serves_path, txn_app=txn_app, txn_version=batch_id
        )
        write_snapshot(
            spark,
            assigned,
            index_path,
            mode="overwrite" if drifted else "append",
            txn_app=txn_app,
            txn_version=batch_id,
            cluster_col="cell",
        )
        if meta is None:
            first_meta = {
                "centroids": cents,
                "queries": [[i, u] for i, u in qrows],
            }
            if retrain_drift is not None:
                first_meta["mean_sim"] = _mean_sim(spark, assigned, cents)
            write_meta(first_meta)
        elif drifted:
            write_meta(
                {
                    "centroids": cents,
                    "queries": meta["queries"],
                    "mean_sim": new_baseline,
                }
            )
    finally:
        # in finally alongside batch: a failure between persist and the
        # commits must not leak the cached batch into later micro-batches
        if assigned is not None:
            assigned.unpersist()
        if union is not None:
            union.unpersist()
        batch.unpersist()


def run_ann_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    n_cells: int = IVF_CELLS,
    retrain_drift: float | None = None,
    compact_every: int | None = None,
):
    """Stream NDJSON embedding files (vec_id, embedding) through
    incremental ANN index maintenance: exactly-once serves / index
    snapshots, the fixed query set answered after every ingest;
    ``retrain_drift`` arms the drift-triggered rebuild (see
    ``extend_ann_index``).  ``compact_every=N`` re-clusters the
    snapshot tables after every N-th batch (replay-fenced, see
    ``streaming/compaction``)."""
    return start_snapshot_stream(
        read_json_stream(spark, EMB_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "annmaint",
        lambda df, batch_id, txn_app: extend_ann_index(
            spark,
            df,
            out_path,
            batch_id,
            txn_app=txn_app,
            n_cells=n_cells,
            retrain_drift=retrain_drift,
        ),
        compact=CompactionSpec(out_path, [SERVES_TABLE, INDEX_TABLE], INDEX_TABLE, compact_every),
    )
