"""Streaming corpus curation — ``corpus_curation``'s gate (exact dedup ->
language ID -> quality floor) plus ``dedup_incremental``'s
batch-vs-corpus near-dup check, run INSIDE foreachBatch against a
persisted corpus index.

This is the streaming twin of ``operators/dedup.dedup_incremental``: a
daily/continuous document feed lands next to an accepted corpus, and each
micro-batch is admitted or dropped against what the corpus ALREADY
contains, exactly once.

Per micro-batch:

1. exact dedup WITHIN the batch (canonical = min doc_id per fingerprint)
   and against the corpus's fingerprints;
2. quality gate (token floor + distinct-token-ratio floor, the
   ``corpus_curation`` thresholds) + n-gram language ID;
3. near-dup gate: the batch's MinHash band keys equi-join the persisted
   corpus band index (increment side broadcast — band keys are
   band-count-sized, the corpus is never re-profiled), candidates verified
   by exact Jaccard over shingle sets, within-batch near-dups collapsed
   toward the lowest doc_id;
4. survivors append — exactly once — to three snapshot tables under the
   output root: ``docs`` (the curated corpus), ``index/bands`` and
   ``index/profiles`` (the dedup index future batches probe).

Exactly-once comes from ``sinks/snapshot.py``'s per-writer txn high-water
mark: every table's commit is idempotent per (checkpoint, batch_id), so a
replayed batch re-derives the same survivors (its own bands only land
AFTER its docs commit, and self-pairs are filtered) and every commit
skips.  At 100 TB the bands table is the pre-built index shape the
batch probes by bucket: it is WRITTEN clustered by band key
(``write_snapshot(cluster_col="key")``), the manifest carries per-file
[min, max] on the key, and a trickle batch's probe is planned from
those stats (``probe_snapshot``) — reading ~B of the index's N
files; bulk batches saturate the ranges and keep the full column-pruned
scan.

Reference parity: the reference has no curation stage at all — this is
beyond-reference machinery for the training-data pipeline (SURVEY.md §6),
composed entirely from driver-verified parts (corpus_curation,
dedup_minhash_lsh, dedup_incremental).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.dedup import (
    JACCARD_THRESHOLD,
    lsh_bands,
    minhash_profiles,
    postings_of,
)
from ..operators.text import (
    CURATION_MIN_DISTINCT,
    CURATION_MIN_TOKENS,
    _predicted_lang,
    _tokens,
)
from ..sinks.snapshot import (
    probe_snapshot,
    read_snapshot_or_none,
    write_snapshot,
)
from .compaction import CompactionSpec, read_json_stream, start_snapshot_stream

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

DOCS_TABLE = "docs"
BANDS_TABLE = "index/bands"
PROFILES_TABLE = "index/profiles"

def _exact_jaccard(pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame) -> DataFrame:
    """Verify candidate (a_doc, b_doc) pairs by exact Jaccard over the
    two sides' shingle arrays; keep pairs >= JACCARD_THRESHOLD."""
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        pairs.join(sh_a, "a_doc")
        .join(sh_b, "b_doc")
        .select("a_doc", "b_doc", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def curate_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    *,
    txn_app: str,
) -> None:
    """The foreachBatch body; factored out so tests can drive it directly."""
    docs_path = posixpath.join(out_path, DOCS_TABLE)
    bands_path = posixpath.join(out_path, BANDS_TABLE)
    profiles_path = posixpath.join(out_path, PROFILES_TABLE)

    batch_df.persist()
    pre = None
    dup_fps = None
    try:
        t = _tokens()
        n_tokens = F.size(t)
        n_distinct = F.size(F.array_distinct(t))
        per_doc = batch_df.select(
            "doc_id",
            "text",
            F.md5(F.lower(F.col("text"))).alias("fingerprint"),
            n_tokens.alias("n_tokens"),
            F.round(n_distinct.cast("double") / n_tokens, 4).alias("distinct_ratio"),
            _predicted_lang().alias("predicted_lang"),
        )

        # gate 1+2: within-batch exact dedup, then the quality floor
        from pyspark.sql import Window

        canonical = F.col("doc_id") == F.min("doc_id").over(
            Window.partitionBy("fingerprint")
        )
        pre = per_doc.withColumn("is_canonical", canonical).filter(
            F.col("is_canonical")
            & (F.col("n_tokens") >= CURATION_MIN_TOKENS)
            & (F.col("distinct_ratio") >= CURATION_MIN_DISTINCT)
        ).persist()

        # gate 2b: exact dup of an already-accepted document.  The
        # batch's fingerprints broadcast into a semi-join against the
        # (fingerprint-clustered, manifest-pruned) corpus read, and only
        # the batch-bounded intersection broadcasts into the anti-join —
        # NEVER the corpus-sized fingerprint set (a plan-time broadcast
        # of the corpus is the OOM-at-scale pattern; spanmaint's `seen`
        # shape applied here)
        corpus_profiles = read_snapshot_or_none(spark, profiles_path)
        batch_fps = pre.select("fingerprint").distinct()
        fps_src = probe_snapshot(spark, profiles_path, batch_fps)
        passed = pre
        if fps_src is not None:
            dup_fps = (
                fps_src.select("fingerprint")
                .join(F.broadcast(batch_fps), "fingerprint", "left_semi")
                .persist()
            )
            dup_fps.count()
            passed = pre.join(
                F.broadcast(dup_fps), "fingerprint", "left_anti"
            ).persist()

        # gate 3: near-dup LSH.  One profile pass over the survivors.
        profiles = minhash_profiles(
            postings_of(passed.select("doc_id", "text"))
        ).persist()
        bands = lsh_bands(profiles)
        sh = profiles.select("doc_id", "shingles")

        # 3a within-batch: banded self-join, drop the higher doc_id
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
        dup_in_batch = _exact_jaccard(
            cand_in,
            sh.select(F.col("doc_id").alias("a_doc"), F.col("shingles").alias("sh_a")),
            sh.select(F.col("doc_id").alias("b_doc"), F.col("shingles").alias("sh_b")),
        ).select(F.col("b_doc").alias("doc_id"))

        # 3b against the corpus: batch bands broadcast into the index join
        # (planned from the manifest's per-file key stats when the batch's
        # distinct band keys, docs x BANDS, fit under
        # snapshot.PRUNE_MAX_KEYS)
        corpus_bands = probe_snapshot(spark, bands_path, bands.select("key"))
        if corpus_bands is not None and corpus_profiles is not None:
            cand_vs = (
                corpus_bands.alias("c")
                .join(
                    F.broadcast(bands.alias("n")),
                    (F.col("c.band") == F.col("n.band"))
                    & (F.col("c.key") == F.col("n.key")),
                )
                .select(
                    F.col("c.doc_id").alias("a_doc"),
                    F.col("n.doc_id").alias("b_doc"),
                )
                .distinct()
            )
            dup_vs_corpus = _exact_jaccard(
                cand_vs,
                corpus_profiles.select(
                    F.col("doc_id").alias("a_doc"), F.col("shingles").alias("sh_a")
                ),
                sh.select(
                    F.col("doc_id").alias("b_doc"), F.col("shingles").alias("sh_b")
                ),
            ).select(F.col("b_doc").alias("doc_id"))
            dropped = dup_in_batch.unionByName(dup_vs_corpus).distinct()
        else:
            dropped = dup_in_batch.distinct()

        survivors = passed.join(dropped, "doc_id", "left_anti").persist()

        # exactly-once publication: docs FIRST, index after — a crash in
        # between replays against an index without this batch's bands, so
        # the same survivors re-derive and every commit below skips
        write_snapshot(
            spark,
            survivors.select(
                "doc_id", "text", "predicted_lang", "n_tokens",
                F.lit(batch_id).alias("batch_id"),
            ),
            docs_path,
            txn_app=txn_app,
            txn_version=batch_id,
        )
        keep = survivors.select("doc_id")
        write_snapshot(
            spark,
            lsh_bands(profiles.join(keep, "doc_id")),
            bands_path,
            txn_app=txn_app,
            txn_version=batch_id,
            # clustered by band key -> per-file [min, max] in the
            # manifest feeds the pruned probe read above
            cluster_col="key",
        )
        write_snapshot(
            spark,
            profiles.join(keep, "doc_id")
            .join(passed.select("doc_id", "fingerprint"), "doc_id")
            .select("doc_id", "fingerprint", "shingles"),
            profiles_path,
            txn_app=txn_app,
            txn_version=batch_id,
            # clustered by fingerprint -> gate 2b's probe read prunes
            # via the manifest stats
            cluster_col="fingerprint",
        )
        survivors.unpersist()
        profiles.unpersist()
        if passed is not pre:
            passed.unpersist()
    finally:
        if dup_fps is not None:
            dup_fps.unpersist()
        if pre is not None:
            pre.unpersist()
        batch_df.unpersist()


def run_curation_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    *,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Stream NDJSON document files (doc_id, text) through the curation
    gate into an exactly-once curated corpus + dedup index.
    ``compact_every=N`` re-clusters the snapshot tables after every
    N-th batch (replay-fenced, see ``streaming/compaction``)."""
    return start_snapshot_stream(
        read_json_stream(spark, DOC_SCHEMA, input_path, max_files_per_trigger),
        checkpoint,
        "curate",
        lambda df, batch_id, txn_app: curate_batch(
            spark, df, out_path, batch_id, txn_app=txn_app
        ),
        compact=CompactionSpec(
            out_path, [DOCS_TABLE, BANDS_TABLE, PROFILES_TABLE], PROFILES_TABLE, compact_every
        ),
    )
