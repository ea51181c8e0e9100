"""Incremental n-gram LM maintenance — the streaming twin of
``text.train_lm_model`` / ``text.score_lm`` (the CCNet-style perplexity
filter kept current on a live corpus; order 2 default, order 3
supported — each higher order is one more delta table and two more
serve joins, the batch trainer's recurrence, and the backoff ladder
itself comes from the SAME rung-rule source all three faces share:
``text._lm_backoff_expr`` here and in the batch scorer,
``text._lm_backoff_case_sql`` in the generated oracles).

A reference LM is never closed either: document batches keep arriving,
and the filter must score each batch against the model of EVERYTHING
admitted so far without recounting old documents.  N-gram counts are a
monoid (counts add), so the model state is two APPEND-ONLY snapshot
tables of count DELTAS under the output root:

- ``counts/unigrams`` — (tok, c1) per batch, clustered by ``tok``;
- ``counts/bigrams``  — (prev, tok, c2) per batch, clustered by
  ``prev``;
- ``scores``          — (doc_id, batch_id, n_tokens, mean_nll): each
  batch's documents scored against the cumulative model INCLUDING the
  batch (the self-scoring CCNet bootstrap, per batch).

Maintenance per batch is O(batch): one ``_ngram_positions`` explode,
two map-side-combine groupBys, two clustered appends.  Serving is
MERGE-ON-READ: cumulative counts are the groupBy-SUM over the delta
rows.  The unigram fold reads the whole table — vocabulary-bounded
(Heaps' law, sublinear in the corpus) and needed in full anyway for the
(total, vocab) scalars; the BIGRAM table — the corpus-combinatorial one
(49M distinct trigrams at the 1M-doc probe for its order-3 sibling) —
is pruned to the batch's distinct ``prev`` keys through the clustered
manifest stats (``probe_snapshot``), so a trickle batch reads
~its own key count of files, never the model (the spanmaint
trickle-regime mechanics; the key list is batch-bounded, like
spanmaint's window hashes).

Merge-on-read leaves one cost unbounded: after thousands of batches
each key's count is scattered over thousands of delta rows.  The FOLD
COMPACTION closes it — ``compact_twin_tables(transforms=...)`` rewrites
each count table through its groupBy-sum (``compact_snapshot``'s
``transform`` hook), so the table periodically collapses back to one
row per distinct n-gram and the per-serve read amplification stays
bounded (every ``compact_every``-th batch).  The fold
is a pure monoid collapse: readers of pre- and post-compaction versions
see identical cumulative counts.

Exactly-once: deltas commit FIRST (unigrams -> bigrams), then the serve
reads the tables BACK (never "prior snapshot ∪ in-memory batch": on a
crash-replay whose delta commits skip, the snapshot already contains
the batch — re-reading gives cumulative-through-batch in both the
first-run and replay paths, so the scores append is deterministic),
then scores commit.  All three writes ride the per-writer txn marks.

Reference parity: the reference has no LM (SURVEY.md §6) —
beyond-reference machinery composed from driver-verified parts
(``text_lm_score``'s scoring expressions, ``stream_span_verify``'s
sequential protocol, the count-monoid argument of
``sketch_maintenance``).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.text import _lm_backoff_expr, _ngram_positions
from ..sinks.snapshot import probe_snapshot, read_snapshot, write_snapshot
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

UNI_TABLE = "counts/unigrams"
BIG_TABLE = "counts/bigrams"
TRI_TABLE = "counts/trigrams"
SCORES_TABLE = "scores"


def fold_unigrams(df: DataFrame) -> DataFrame:
    """Collapse unigram count deltas — the monoid sum (idempotent on
    already-folded rows; ``compact_snapshot``'s transform contract)."""
    return df.groupBy("tok").agg(F.sum("c1").alias("c1"))


def fold_bigrams(df: DataFrame) -> DataFrame:
    return df.groupBy("prev", "tok").agg(F.sum("c2").alias("c2"))


def fold_trigrams(df: DataFrame) -> DataFrame:
    return df.groupBy("prev2", "prev", "tok").agg(F.sum("c3").alias("c3"))


def _twin_tables(order: int) -> list[str]:
    return [UNI_TABLE, BIG_TABLE] + ([TRI_TABLE] if order >= 3 else [])


FOLDS = {
    UNI_TABLE: fold_unigrams,
    BIG_TABLE: fold_bigrams,
    TRI_TABLE: fold_trigrams,
}


def _score_batch(
    toks: DataFrame,
    uni: DataFrame,
    big: DataFrame,
    batch_id: int,
    *,
    order: int = 2,
    tri: DataFrame | None = None,
) -> DataFrame:
    """``score_lm``'s backoff over merge-on-read count tables — the
    SAME when-chain (``text._lm_backoff_expr``, the one rung-rule
    source shared with the batch scorer and the generated oracle CASE),
    with every denominator joined at serve time instead of denormalized
    at train time: ``prev_c1`` from the unigram fold re-keyed on
    ``prev``; at order 3, ``ctx_c2`` from the bigram fold re-keyed on
    (prev2, prev) — one more table, two more joins per order, exactly
    the batch trainer's recurrence."""
    scal = uni.agg(
        F.sum("c1").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    scored = (
        toks.join(uni, "tok", "left")
        .join(
            uni.select(
                F.col("tok").alias("prev"), F.col("c1").alias("prev_c1")
            ),
            "prev",
            "left",
        )
        # merge hint: both sides can be corpus-scale (the folded bigram
        # table is a derived aggregate whose size estimate Catalyst
        # gets wrong — the train_lm_model OOM lesson); sort-merge
        # spills at any size.  The uni joins stay AQE-planned:
        # vocab-bounded, measured fine at 1M docs.
        .join(big.hint("merge"), ["prev", "tok"], "left")
    )
    if order >= 3:
        ctx = big.select(
            F.col("prev").alias("prev2"),
            F.col("tok").alias("prev"),
            F.col("c2").alias("ctx_c2"),
        )
        scored = scored.join(ctx.hint("merge"), ["prev2", "prev"], "left").join(
            tri.hint("merge"), ["prev2", "prev", "tok"], "left"
        )
    scored = scored.crossJoin(F.broadcast(scal))
    nll = _lm_backoff_expr(order)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(nll), 6).alias("mean_nll"),
        )
        .select(
            "doc_id",
            F.lit(batch_id).cast("long").alias("batch_id"),
            "n_tokens",
            "mean_nll",
        )
    )


def extend_lm(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
    order: int = 2,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Appends the batch's count deltas, then scores the batch
    against the cumulative model read BACK from the tables.

    ``order=3`` adds the trigram delta table (clustered by ``prev2``)
    and, at serve time, the ctx_c2 re-key of the bigram fold plus the
    pruned trigram fold — one more table, two more joins, the batch
    trainer's recurrence in streaming form.  Orders beyond 3 iterate
    the identical step (proven to 5 on the batch side)."""
    if order not in (2, 3):
        raise ValueError(f"order must be 2 or 3, got {order}")
    # order is part of the TABLE CONTRACT: a restart at a different
    # order would serve from count tables missing earlier batches'
    # higher-order deltas — silently wrong scores.  Pin it in a meta
    # file on first batch, validate ever after (the annmaint/_META
    # pattern; write-once, so replay-safe).
    from ..sinks.fsutil import json_meta_io

    read_meta, write_meta = json_meta_io(spark, out_path, "_lm_meta.json")
    meta = read_meta()
    if meta is None:
        write_meta({"order": order})
    elif int(meta.get("order", -1)) != order:
        raise ValueError(
            f"LM stream at {out_path} was built with order="
            f"{meta.get('order')}; restarting it with order={order} would "
            "serve from incomplete count tables"
        )
    uni_path = posixpath.join(out_path, UNI_TABLE)
    big_path = posixpath.join(out_path, BIG_TABLE)
    tri_path = posixpath.join(out_path, TRI_TABLE)
    scores_path = posixpath.join(out_path, SCORES_TABLE)

    toks = _ngram_positions(
        batch_df.select("doc_id", "text"), order=order
    ).persist()
    uni = None
    try:
        # ---- maintenance: O(batch) counts, clustered appends ---------
        uni_delta = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
        big_delta = (
            toks.filter(F.col("prev").isNotNull())
            .groupBy("prev", "tok")
            .agg(F.count(F.lit(1)).alias("c2"))
        )
        write_snapshot(
            spark, uni_delta, uni_path,
            txn_app=txn_app, txn_version=batch_id, cluster_col="tok",
        )
        write_snapshot(
            spark, big_delta, big_path,
            txn_app=txn_app, txn_version=batch_id, cluster_col="prev",
        )
        if order >= 3:
            tri_delta = (
                toks.filter(F.col("prev2").isNotNull())
                .groupBy("prev2", "prev", "tok")
                .agg(F.count(F.lit(1)).alias("c3"))
            )
            write_snapshot(
                spark, tri_delta, tri_path,
                txn_app=txn_app, txn_version=batch_id, cluster_col="prev2",
            )

        # ---- serving: merge-on-read against the committed state ------
        # (read BACK, not prior ∪ in-memory: see module docstring's
        # replay argument)
        # persisted + materialized: three consumers (tok join, prev
        # join, the scalars aggregate) would otherwise each re-read and
        # re-fold the whole unigram table (the annmaint multi-consumer
        # lesson)
        uni = fold_unigrams(read_snapshot(spark, uni_path)).persist()
        uni.count()

        # keyed probes (probe_snapshot): a bulk batch over web text
        # carries ~1e5-1e6 distinct tokens, past snapshot.PRUNE_MAX_KEYS,
        # saturating the uniform-hash cluster ranges, so it skips the
        # driver-side collect and reads the full column-pruned table.
        # The ctx_c2 re-key probes the bigram table with prev2 values in
        # its prev position, so the bigram keys are prev ∪ prev2
        big_keys = toks.select(F.col("prev").alias("k"))
        if order >= 3:
            big_keys = big_keys.union(toks.select(F.col("prev2").alias("k")))
        pruned = probe_snapshot(spark, big_path, big_keys)
        big = (
            fold_bigrams(pruned)
            if pruned is not None
            else spark.createDataFrame([], "prev string, tok string, c2 bigint")
        )
        tri = None
        if order >= 3:
            tri_pruned = probe_snapshot(spark, tri_path, toks.select("prev2"))
            tri = (
                fold_trigrams(tri_pruned)
                if tri_pruned is not None
                else spark.createDataFrame(
                    [], "prev2 string, prev string, tok string, c3 bigint"
                )
            )
        write_snapshot(
            spark,
            _score_batch(toks, uni, big, batch_id, order=order, tri=tri),
            scores_path,
            txn_app=txn_app,
            txn_version=batch_id,
        )
    finally:
        if uni is not None:
            uni.unpersist()
        toks.unpersist()


def run_lm_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    order: int = 2,
):
    """Stream NDJSON document files (doc_id, text) through incremental
    LM maintenance: exactly-once count-delta / scores snapshots, with
    FOLD compaction of the count tables after every ``compact_every``-th
    batch."""
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "lm",
        lambda df, batch_id, txn_app: extend_lm(
            spark, df, out_path, batch_id, txn_app=txn_app, order=order
        ),
        compact=CompactionSpec(out_path, _twin_tables(order), BIG_TABLE, compact_every, FOLDS),
    )
