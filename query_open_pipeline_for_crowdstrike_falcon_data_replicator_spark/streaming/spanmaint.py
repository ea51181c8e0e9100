"""Incremental ExactSubstr span removal — the streaming twin of
``dedup.dedup_span_removal``.

The batch operator cleans a CLOSED corpus: every token covered by a
15-token window occurring in >= 2 distinct documents is removed from all
but the min-doc_id owner occurrence.  A crawl pipeline never has a
closed corpus — new document batches arrive against everything already
admitted.  This module maintains exactly that: each micro-batch is
cleaned against (a) the persisted WINDOW INDEX of every previously seen
window hash and (b) its own batch-internal duplicate windows, then the
batch's new window hashes append to the index future batches probe.

Removal rule per batch occurrence (doc, start, window-hash w):

1. w already in the corpus index  -> REMOVE (its owner arrived in an
   earlier batch; arrival order is ascending doc_id, so the earlier doc
   is the min-doc_id owner the batch semantics would keep);
2. else w shared by >= 2 distinct docs WITHIN the batch -> remove from
   all but the batch-min doc_id (exactly the batch operator's winner
   rule applied to the only docs that carry w so far);
3. else keep — and if the window is new, (w, owner=min batch doc)
   appends to the index, so a future occurrence triggers rule 1.

Given ascending-doc_id arrival (the probe's ordered NDJSON drops), the
accumulated cleaned table is ROW-FOR-ROW EQUAL to ``dedup_span_removal``
over the union corpus: rule 1 + rule 3 reproduce "owner keeps, later
copies strip" across batches, rule 2 reproduces it within a batch, and
single-doc repeats are never removed in either form (the index stores
distinct hashes; membership, not counts, drives rule 1).  That equality
is what the driver-oracled ``stream_span_verify`` probe hashes, batch
attribution included.

Exactly-once: both tables commit through ``sinks/snapshot.py``'s
per-writer txn high-water mark, cleaned rows FIRST — a crash between
the two commits replays the batch against an index WITHOUT its own
windows, re-deriving identical removals (its windows only influence
LATER batches), and every at-or-below-mark commit skips.

Scale shape: the corpus-side index is probed ONCE per batch by an
equi-join on the window hash with the batch side BROADCAST (a
micro-batch's window set is batch-sized; the index is corpus-sized and
never re-derived); batch-internal work is the batch-local winner
groupBy; the rebuild is the batch operator's posexplode + keyed
anti-join at batch grain.  The index is WRITTEN clustered by window
hash (``write_snapshot(cluster_col="w")`` — per-file [min, max] in the
manifest), and a trickle batch (<= ``snapshot.PRUNE_MAX_KEYS`` distinct
windows) plans its probe from those stats via ``probe_snapshot``,
reading ~B of the index's N files instead of all of them; a bulk batch
saturates the uniform-hash ranges and keeps the full column-pruned
scan.

Reference parity: the reference never compares two documents
(``qopcfdr_stream_loader.py`` ships events one at a time) — this is
beyond-reference machinery for the training-data pipeline (SURVEY.md
§6), composed from driver-verified parts (``dedup_span_removal``,
``stream_curate_verify``'s sequential-admission protocol).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import SUBSTRING_K, _window_hashes
from ..sinks.snapshot import probe_snapshot, write_snapshot
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream
from .curation import DOC_SCHEMA

CLEAN_TABLE = "cleaned"
WINDOWS_TABLE = "index/windows"


def extend_span_clean(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it
    directly.  Appends the batch's cleaned rows (doc_id, n_tokens,
    n_removed, cleaned_text, batch_id) to the cleaned snapshot, then
    the batch's new window hashes to the probe index."""
    clean_path = posixpath.join(out_path, CLEAN_TABLE)
    windows_path = posixpath.join(out_path, WINDOWS_TABLE)

    base = (
        batch_df.select(
            "doc_id", F.split(F.lower("text"), " ").alias("toks")
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").cast("long").alias("n"),
            _window_hashes(F.col("toks"), SUBSTRING_K).alias("wins"),
        )
        .persist()
    )
    occ = None
    seen = None
    try:
        occ = base.select(
            "doc_id", F.posexplode_outer("wins").alias("p0", "w")
        ).filter(F.col("w").isNotNull()).select(
            "doc_id", (F.col("p0") + 1).alias("s"), "w"
        ).persist()

        # the index read plans from the manifest's per-file [min, max]
        # while the batch's distinct window hashes fit under
        # snapshot.PRUNE_MAX_KEYS (a trickle batch reads ~B of N files)
        batch_keys = occ.select("w").distinct()
        corpus_idx = probe_snapshot(spark, windows_path, batch_keys)

        # rule 1: window known to the corpus -> remove this occurrence.
        # The batch side broadcasts into the corpus-sized index probe.
        if corpus_idx is not None:
            # seen is batch-bounded (a semi-join cannot exceed the batch's
            # distinct window count) but feeds TWO consumers below —
            # persist+materialize so the corpus-sized index probe runs
            # once per batch, not once per consumer
            seen = corpus_idx.select("w").join(
                F.broadcast(batch_keys), "w", "left_semi"
            ).persist()
            seen.count()
            rm1 = occ.join(F.broadcast(seen), "w", "left_semi")
            fresh = occ.join(F.broadcast(seen), "w", "left_anti")
        else:
            rm1 = occ.filter(F.lit(False))
            fresh = occ

        # rule 2: batch-internal winner rule over windows the corpus has
        # never seen — remove from every doc but the batch minimum
        winners = fresh.groupBy("w").agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("bowner"),
        )
        rm2 = (
            fresh.join(winners.filter(F.col("nd") >= 2), "w")
            .filter(F.col("doc_id") != F.col("bowner"))
            .select("doc_id", "s")
        )
        # no distinct(): left_anti ignores duplicate keys (see the batch
        # operator's note)
        removed = (
            rm1.select("doc_id", "s")
            .unionByName(rm2)
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("s"), F.col("s") + (SUBSTRING_K - 1))
                ).alias("p"),
            )
        )

        toks_pos = base.select(
            "doc_id", F.posexplode("toks").alias("p0", "tok")
        ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
        kept = toks_pos.join(removed, ["doc_id", "p"], "left_anti")
        cleaned = kept.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("cleaned_text"),
        )
        out_rows = (
            base.select("doc_id", "n")
            .join(cleaned, "doc_id", "left")
            .select(
                "doc_id",
                F.col("n").alias("n_tokens"),
                (
                    F.col("n") - F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
                ).alias("n_removed"),
                F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
                F.lit(batch_id).alias("batch_id"),
            )
        )

        # index append: each never-seen window with its batch owner
        new_windows = fresh.groupBy("w").agg(F.min("doc_id").alias("owner"))

        # exactly-once publication: cleaned FIRST, index after (module
        # docstring: replay re-derives the same removals, commits skip)
        write_snapshot(
            spark, out_rows, clean_path, txn_app=txn_app, txn_version=batch_id
        )
        write_snapshot(
            spark,
            new_windows,
            windows_path,
            txn_app=txn_app,
            txn_version=batch_id,
            # clustered by window hash: every appended file carries a
            # narrow [min, max] in the manifest, which is what lets the
            # trickle-regime probe above skip files
            cluster_col="w",
        )
    finally:
        # all three caches release even when a commit throws mid-batch —
        # a leaked cached RDD would otherwise survive into every later
        # micro-batch of the stream
        if occ is not None:
            occ.unpersist()
        if seen is not None:
            seen.unpersist()
        base.unpersist()


def run_span_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON document files (doc_id, text) through incremental
    span removal: an exactly-once cleaned-corpus snapshot plus the
    window-hash index the next batch probes.  ``compact_every=N``
    re-clusters both snapshot tables after every N-th batch (replay-
    fenced, see ``streaming/compaction``) so the window index's pruning
    ranges stay tight over a long-running stream."""
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "spanmaint",
        lambda df, batch_id, txn_app: extend_span_clean(
            spark, df, out_path, batch_id, txn_app=txn_app
        ),
        compact=CompactionSpec(out_path, [CLEAN_TABLE, WINDOWS_TABLE], WINDOWS_TABLE, compact_every),
    )
