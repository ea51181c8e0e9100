"""Driver-oracled STREAM-OUTPUT probe: a registered batch query whose
input parquet was produced by the streaming packing pipeline.

``stream_pack_verify`` splits the documents table into three doc_id-range
NDJSON drops, streams them through ``run_packing_stream`` (availableNow,
one file per micro-batch, exactly-once snapshot commits carrying the
running token total across batches), then reads the PACKED SNAPSHOT
TABLE back and aggregates per sequence.  Because the stream continues
the token stream across micro-batches, the read-back must equal a batch
concat-and-chunk pack over the whole corpus — which is exactly what the
DuckDB oracle replays.  A hash-match therefore proves, through actual
stream execution: micro-batch ordering, the cross-batch running-total
state, the two-pass prefix sum under streaming, the snapshot commit
protocol, and the parquet round-trip — the streaming twin of
``corpus_export_verify``.

Scale shape: the stream is fixture-scale by construction (a driver
correctness probe, excluded from bench timing); the operators it drives
(``pack_assignments``, snapshot commits) carry their own 100 TB design
and tests.
"""

from __future__ import annotations

import functools
import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import PACK_SEQ_LEN, _tokens
from ..sinks.artifacts import build_once
from ..sinks.snapshot import read_snapshot
from ..sources.tables import load_table
from .packing import PACKED_TABLE, STATE_TABLE, _running_total, run_packing_stream


def _sources_fingerprint(root: str) -> str:
    """md5 (12 hex digits) over every ``.py`` file under ``root``: each
    file's relative path and bytes, in sorted order."""
    h = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


@functools.cache
def _code_fingerprint() -> str:
    """The package's source fingerprint, computed once per process."""
    return _sources_fingerprint(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _stage_dir(name: str, *key) -> str:
    """The ``build_once`` directory of one oracle entry's built lake,
    ``$TMPDIR/qopcfdr_<name>_<key...>_<code>``.  The key holds the
    entry's parameters, salted with a corpus content fingerprint where
    there is one (a regenerated corpus at an unchanged sf_dir gets a
    fresh stream run instead of a stale snapshot); ``<code>`` is the
    package's source fingerprint, so a lake built by other code is
    never read back as this code's result."""
    parts = [f"qopcfdr_{name}", *map(str, key), _code_fingerprint()]
    return os.path.join(tempfile.gettempdir(), "_".join(parts))


def _write_ordered_batches(
    docs: DataFrame,
    src: str,
    id_col: str = "doc_id",
    cols: tuple[str, ...] = ("doc_id", "text"),
) -> None:
    """Three contiguous id ranges as NDJSON file drops with strictly
    increasing mtimes, so the file stream (maxFilesPerTrigger=1) replays
    them in corpus order."""
    max_id = docs.agg(F.max(id_col)).collect()[0][0]
    cuts = (max_id // 3, 2 * max_id // 3)
    ranges = [
        F.col(id_col) <= cuts[0],
        (F.col(id_col) > cuts[0]) & (F.col(id_col) <= cuts[1]),
        F.col(id_col) > cuts[1],
    ]
    t0 = 1_000_000_000  # fixed epoch base: mtime order, not wall clock
    for i, cond in enumerate(ranges):
        d = os.path.join(src, f"b{i}")
        docs.filter(cond).select(*cols).repartition(1).write.mode(
            "overwrite"
        ).json(d)
        for name in os.listdir(d):
            p = os.path.join(d, name)
            if name.startswith("_"):
                os.remove(p)  # _SUCCESS would ride the stream as a file
            else:
                os.utime(p, (t0 + i, t0 + i))


def stream_pack_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the packing STREAM over the documents corpus (skipped when the
    snapshot already holds this corpus — the running total in the state
    table is the witness), then aggregate the stream-written packed
    snapshot per sequence."""
    docs = load_table(spark, sf_dir, "documents")
    expected_total = int(
        docs.agg(F.sum(F.size(_tokens())).alias("t")).collect()[0]["t"]
    )

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_packing_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(300)
        q.stop()
        if not finished:
            # Reading back a partially-packed snapshot would surface as a
            # confusing oracle hash mismatch; fail loudly instead.
            raise TimeoutError(
                "stream_pack_verify: packing stream did not drain within "
                "300s; snapshot is partial, refusing to read it back"
            )
        have = _running_total(spark, os.path.join(stage, "out", STATE_TABLE))
        if have != expected_total:
            raise AssertionError(
                f"stream carried {have} tokens across batches, corpus has "
                f"{expected_total}"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(str(expected_total))

    base = build_once(
        _stage_dir("streampack", _sf_name(sf_dir), expected_total),
        "_COMPLETE",
        _build,
    )
    out = os.path.join(base, "out")
    packed = read_snapshot(spark, os.path.join(out, PACKED_TABLE))
    return (
        packed.groupBy(F.col("seq_id").cast("long").alias("seq_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum(F.col("spans_boundary").cast("long")).alias("n_boundary_docs"),
            F.count_distinct("batch_id").alias("n_batches"),
        )
    )


# The oracle replays the BATCH pack over the full corpus — equality holds
# iff the stream really continued the token stream across micro-batches.
# n_batches is replayed from the same doc_id-range cut rule the builder
# uses (thirds of max(doc_id)).
STREAM_PACK_VERIFY_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
m AS (SELECT max(doc_id) AS max_id FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
),
a AS (
  SELECT c.doc_id, c.n_tokens,
         (cum - n_tokens) // {PACK_SEQ_LEN} AS seq_id,
         ((cum - 1) // {PACK_SEQ_LEN}) > ((cum - n_tokens) // {PACK_SEQ_LEN})
           AS spans_boundary,
         CASE WHEN c.doc_id <= m.max_id // 3 THEN 0
              WHEN c.doc_id <= 2 * m.max_id // 3 THEN 1
              ELSE 2 END AS batch_id
  FROM c CROSS JOIN m
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(CASE WHEN spans_boundary THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_docs,
       CAST(count(DISTINCT batch_id) AS BIGINT) AS n_batches
FROM a
GROUP BY 1
"""


def ocsf_stream_verify(spark: SparkSession, _sf_dir: str) -> DataFrame:
    """Driver-oracled probe of the reference's PRIMARY dataflow as a
    STREAM (README.md:36-43: S3 object notifications -> micro-batches ->
    13 sinks): the same 20k synthetic FDR fixture events as
    ``ocsf_etl_verify``, but delivered as three NDJSON file drops through
    ``run_stream`` — file-source discovery standing in for
    EventBridge, maxFilesPerTrigger=1 for the notification batch, each
    micro-batch committing all 13 OCSF tables + 4 quarantines as
    exactly-once snapshot versions — then the snapshot tables read BACK
    and aggregated per (sink, eventDay).  The oracle is the identical
    VALUES-join replay ``ocsf_etl_verify`` uses: a hash-match proves the
    stream path (micro-batch slicing, per-batch classify->normalize->
    route, the snapshot commit protocol, partition-column derivation)
    lands value-for-value where the batch path does.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the operators it drives carry their own 100 TB
    design (plan pins + run_stream's trigger/buffer knobs)."""
    import json

    from ..ocsf.schemas import TABLE_KEYS
    from ..plans.ocsf_queries import N_VERIFY, _fixture_lines
    from ..sources.tables import ensure_runtime_conf
    from .pipeline import run_stream

    ensure_runtime_conf(spark)
    fixtures = _fixture_lines()
    n_fix = len(fixtures)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        t0 = 1_000_000_000
        cuts = (N_VERIFY // 3, 2 * N_VERIFY // 3, N_VERIFY)
        lo = 0
        for i, hi in enumerate(cuts):
            d = os.path.join(src, f"b{i}")
            os.makedirs(d)
            fpath = os.path.join(d, "events.ndjson")
            with open(fpath, "w") as f:
                for j in range(lo, hi):
                    f.write(fixtures[j % n_fix] + "\n")
            os.utime(fpath, (t0 + i, t0 + i))
            lo = hi
        q = run_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "ocsf_stream_verify: stream did not drain within 600s; "
                "snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(json.dumps({"n": N_VERIFY, "n_fix": n_fix}))

    base = build_once(
        _stage_dir("stream_verify", N_VERIFY, n_fix),
        "_COMPLETE",
        _build,
    )
    out = os.path.join(base, "out")
    agg = None
    for key in TABLE_KEYS:
        df = read_snapshot(spark, os.path.join(out, key))
        part = (
            df.groupBy(F.col("eventDay").cast("string").alias("event_day"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("class_uid").alias("n_classes"),
                F.min(F.unix_millis("time")).alias("min_time_ms"),
                F.max(F.unix_millis("time")).alias("max_time_ms"),
            )
            .select(
                F.lit(key).alias("sink"), "event_day", "n_rows",
                "n_classes", "min_time_ms", "max_time_ms",
            )
        )
        agg = part if agg is None else agg.unionByName(part)
    return agg


def _stream_verify_oracle_sql() -> str:
    # the stream must land value-for-value where the batch write path
    # does — same VALUES-join fixture replay, byte-identical SQL
    from ..plans.ocsf_queries import _etl_verify_oracle_sql

    return _etl_verify_oracle_sql()


def stream_curate_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of the streaming CURATION pipeline
    (``streaming/curation.py`` — the streaming twin of
    ``corpus_curation`` + ``dedup_incremental``): the documents corpus is
    split into three doc_id-range NDJSON drops and streamed through
    ``run_curation_stream`` (availableNow, one file per micro-batch), so
    each micro-batch is admitted against what earlier batches ALREADY
    accepted — exact dedup within the batch and against the corpus
    fingerprints, the quality/language gate, then the near-dup LSH gate
    probing the persisted band index.  The curated docs snapshot is read
    back and aggregated per (batch_id, predicted_lang).

    The DuckDB oracle replays the admission SEQUENTIALLY — a three-step
    CTE chain where batch k's survivors are filtered against batches
    < k's ACCEPTED set (fingerprint anti-join + exact-Jaccard near-dup
    pairs).  The sequential semantics genuinely differ from a one-shot
    batch dedup: a doc whose only near-dup match was itself dropped in
    an earlier batch SURVIVES here (the dropped doc never entered the
    index), where a whole-corpus pairwise pass would drop it.  A
    hash-match therefore proves micro-batch ordering, the cross-batch
    index state, exactly-once snapshot commits, and the admission logic
    itself.  LSH band recall stands in for the exact pair set on the
    same argument as ``DEDUP_MINHASH_SQL`` (miss probability ~8e-8 at
    j=0.8); both engines gate on the ROUNDED Jaccard.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the operators it drives carry their own 100 TB
    design (broadcast increment-side band join against the persisted
    index, never batch x corpus — see ``curation.curate_batch``)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .curation import DOCS_TABLE, run_curation_stream

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_curation_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_curate_verify: curation stream did not drain within "
                "600s; snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamcurate", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    curated = read_snapshot(spark, os.path.join(base, "out", DOCS_TABLE))
    return curated.groupBy(
        F.col("batch_id").cast("long").alias("batch_id"), "predicted_lang"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _curate_admission_ctes() -> str:
    """The sequential three-batch admission replay as a CTE chain
    through ``acc`` (the admitted docs: batch, predicted_lang, n_tokens,
    doc_id) — shared by the curate and export stream oracles.  Batch
    cuts are the same thirds-of-max(doc_id) rule
    ``_write_ordered_batches`` uses; the near-dup relation is the exact
    string-shingle Jaccard pair set (gated on the ROUNDED value,
    mirroring ``curation._exact_jaccard``), restricted to gate-passed
    docs — only pairs with a_doc < b_doc are needed because the drops
    are ascending doc_id ranges."""
    from ..operators.dedup import JACCARD_SHINGLES_CTE, JACCARD_THRESHOLD
    from ..operators.text import (
        CURATION_MIN_DISTINCT,
        CURATION_MIN_TOKENS,
        _PREDICTED_LANG_SQL,
    )

    return f"""m AS (SELECT max(doc_id) AS max_id FROM documents),
per_doc AS (
  SELECT doc_id,
         md5(lower(text)) AS fingerprint,
         len(string_split(lower(text), ' ')) AS n_tokens,
         round(len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / len(string_split(lower(text), ' ')), 4) AS distinct_ratio,
         {_PREDICTED_LANG_SQL} AS predicted_lang,
         CASE WHEN doc_id <= max_id // 3 THEN 0
              WHEN doc_id <= 2 * max_id // 3 THEN 1
              ELSE 2 END AS batch
  FROM documents CROSS JOIN m
),
canon AS (
  SELECT *,
         doc_id = min(doc_id) OVER (PARTITION BY batch, fingerprint)
           AS is_canonical
  FROM per_doc
),
gate AS (
  SELECT doc_id, fingerprint, n_tokens, predicted_lang, batch
  FROM canon
  WHERE is_canonical
    AND n_tokens >= {CURATION_MIN_TOKENS}
    AND distinct_ratio >= {CURATION_MIN_DISTINCT}
),
{JACCARD_SHINGLES_CTE.strip()},
sh AS (
  SELECT s.doc_id, s.sh FROM sh_all s JOIN gate g ON g.doc_id = s.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT a_doc, b_doc
  FROM common
  JOIN sizes sa ON sa.doc_id = a_doc
  JOIN sizes sb ON sb.doc_id = b_doc
  WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 4)
          >= {JACCARD_THRESHOLD}
),
acc0 AS (
  SELECT * FROM gate g
  WHERE batch = 0
    AND NOT EXISTS (
      SELECT 1 FROM pairs p JOIN gate a ON a.doc_id = p.a_doc AND a.batch = 0
      WHERE p.b_doc = g.doc_id)
),
p1 AS (
  SELECT * FROM gate g
  WHERE batch = 1
    AND NOT EXISTS (SELECT 1 FROM acc0 WHERE acc0.fingerprint = g.fingerprint)
),
acc1 AS (
  SELECT * FROM p1 g
  WHERE NOT EXISTS (
      SELECT 1 FROM pairs p JOIN p1 a ON a.doc_id = p.a_doc
      WHERE p.b_doc = g.doc_id)
    AND NOT EXISTS (
      SELECT 1 FROM pairs p JOIN acc0 a ON a.doc_id = p.a_doc
      WHERE p.b_doc = g.doc_id)
),
p2 AS (
  SELECT * FROM gate g
  WHERE batch = 2
    AND NOT EXISTS (SELECT 1 FROM acc0 WHERE acc0.fingerprint = g.fingerprint)
    AND NOT EXISTS (SELECT 1 FROM acc1 WHERE acc1.fingerprint = g.fingerprint)
),
acc2 AS (
  SELECT * FROM p2 g
  WHERE NOT EXISTS (
      SELECT 1 FROM pairs p JOIN p2 a ON a.doc_id = p.a_doc
      WHERE p.b_doc = g.doc_id)
    AND NOT EXISTS (
      SELECT 1 FROM pairs p JOIN acc0 a ON a.doc_id = p.a_doc
      WHERE p.b_doc = g.doc_id)
    AND NOT EXISTS (
      SELECT 1 FROM pairs p JOIN acc1 a ON a.doc_id = p.a_doc
      WHERE p.b_doc = g.doc_id)
),
acc AS (
  SELECT batch, predicted_lang, n_tokens, doc_id FROM acc0
  UNION ALL SELECT batch, predicted_lang, n_tokens, doc_id FROM acc1
  UNION ALL SELECT batch, predicted_lang, n_tokens, doc_id FROM acc2
)"""


def _stream_curate_oracle_sql() -> str:
    return f"""
WITH {_curate_admission_ctes()}
SELECT CAST(batch AS BIGINT) AS batch_id,
       predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM acc
GROUP BY 1, 2
"""


def stream_graph_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of INCREMENTAL pair-graph maintenance
    (``streaming/graphmaint.py``): the documents corpus arrives as three
    doc_id-range NDJSON drops streamed through ``run_graph_stream``
    (availableNow, one file per micro-batch), each batch extending the
    persisted near-dup edge snapshot with exactly its new edges —
    batch-internal pairs plus batch-vs-corpus pairs probed against the
    band index earlier batches committed.  The accumulated snapshot is
    read back and (a) summarized per discovering batch, (b) fed to the
    graph CONSUMERS — connected components and the k-core peel — exactly
    as they would run after any micro-batch, with NO full pair-graph
    rebuild.

    The DuckDB oracle computes the one-shot exact-Jaccard pair set over
    the whole corpus, attributes each edge to the batch of its LATER
    endpoint (the drops are ascending doc_id ranges, so that is the
    micro-batch that discovers it), and replays the same component and
    k-core math.  A hash-match therefore proves: per-batch edge
    accumulation ≡ the full batch pair graph (edge sets AND Jaccard
    values, via the per-batch micro-sums), micro-batch ordering,
    exactly-once snapshot commits, and that the maintained artifact
    feeds the graph consumers unchanged.  LSH band recall stands in for
    the exact pair set on the same argument as ``DEDUP_MINHASH_SQL``
    (miss probability ~8e-8 at j=0.8).

    Output (metric, k, v): ('edges', batch, n) and ('jac_micro', batch,
    sum of round(jaccard*10000)) per batch; ('cluster', rep, size) per
    component; ('core_deg', doc_id, deg) per 2-core vertex.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the per-batch operators carry their own 100 TB
    design (broadcast increment-side band join against the persisted
    index — see ``graphmaint.extend_pair_graph``)."""
    from ..operators.dedup import connected_components
    from ..operators.graph import kcore_from
    from ..session import tracked_persist
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .graphmaint import PAIRS_TABLE, run_graph_stream

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_graph_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_graph_verify: maintenance stream did not drain "
                "within 600s; snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamgraph", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    pairs = tracked_persist(
        read_snapshot(spark, os.path.join(base, "out", PAIRS_TABLE))
    )

    per_batch = pairs.groupBy(F.col("batch_id").cast("long").alias("k")).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.round(F.col("jaccard") * 10000, 0).cast("long")).alias("jac"),
    )
    edges_m = per_batch.select(
        F.lit("edges").alias("metric"), "k", F.col("n_edges").alias("v")
    )
    jac_m = per_batch.select(
        F.lit("jac_micro").alias("metric"), "k", F.col("jac").alias("v")
    )

    canon = pairs.select("doc_a", "doc_b")
    sym = canon.selectExpr("doc_a AS src", "doc_b AS dst").union(
        canon.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    cluster_m = (
        connected_components(sym)
        .groupBy(F.col("cluster_rep").alias("k"))
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("cluster").alias("metric"), "k", "v")
    )
    core_m = kcore_from(canon).select(
        F.lit("core_deg").alias("metric"),
        F.col("doc_id").alias("k"),
        F.col("core_deg").cast("long").alias("v"),
    )
    return edges_m.unionByName(jac_m).unionByName(cluster_m).unionByName(core_m)


def _stream_graph_oracle_sql() -> str:
    """One-shot exact-Jaccard pair set with later-endpoint batch
    attribution, then the same component (recursive min-reach closure)
    and k-core (materialized unrolled peel — DuckDB inlines CTEs, and
    each round references the previous edge set twice) math as the
    ``dedup_cluster`` / ``graph_kcore`` oracles."""
    from ..operators.dedup import JACCARD_SHINGLES_CTE, JACCARD_THRESHOLD
    from ..operators.graph import KCORE_K, KCORE_ROUNDS

    krounds = []
    prev = "e0"
    for t in range(1, KCORE_ROUNDS + 1):
        krounds.append(
            f"k{t} AS MATERIALIZED (\n"
            f"  SELECT src FROM (SELECT src, count(*) AS deg FROM {prev} GROUP BY 1)\n"
            f"  WHERE deg >= {KCORE_K}),\n"
            f"e{t} AS MATERIALIZED (\n"
            f"  SELECT e.src, e.dst FROM {prev} e\n"
            f"  JOIN k{t} a ON a.src = e.src\n"
            f"  JOIN k{t} b ON b.src = e.dst)"
        )
        prev = f"e{t}"
    kchain = ",\n".join(krounds)
    return f"""
WITH RECURSIVE {JACCARD_SHINGLES_CTE.strip()},
sh AS (SELECT doc_id, sh FROM sh_all),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairsj AS MATERIALIZED (
  SELECT doc_a, doc_b,
         round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 4)
          >= {JACCARD_THRESHOLD}
),
m AS (SELECT max(doc_id) AS max_id FROM documents),
pb AS (
  SELECT doc_a, doc_b, jaccard,
         CASE WHEN doc_b <= max_id // 3 THEN 0
              WHEN doc_b <= 2 * max_id // 3 THEN 1
              ELSE 2 END AS batch
  FROM pairsj CROSS JOIN m
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairsj
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairsj
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
  FROM reach GROUP BY src
),
e0 AS MATERIALIZED (SELECT src, dst FROM edges),
{kchain}
SELECT 'edges' AS metric, CAST(batch AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS v
FROM pb GROUP BY batch
UNION ALL
SELECT 'jac_micro', CAST(batch AS BIGINT),
       CAST(sum(CAST(round(jaccard * 10000, 0) AS BIGINT)) AS BIGINT)
FROM pb GROUP BY batch
UNION ALL
SELECT 'cluster', cluster_rep, CAST(count(*) AS BIGINT)
FROM labels GROUP BY cluster_rep
UNION ALL
SELECT 'core_deg', src, CAST(count(*) AS BIGINT)
FROM {prev} GROUP BY src
"""


def stream_span_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of INCREMENTAL span removal
    (``streaming/spanmaint.py``): the documents corpus arrives as three
    ascending doc_id-range NDJSON drops streamed through
    ``run_span_stream`` (availableNow, one file per micro-batch), each
    batch cleaned against the window-hash index earlier batches
    committed plus its own internal duplicate windows, then appending
    its new windows to the index.  The accumulated cleaned snapshot is
    read back verbatim.

    The DuckDB oracle is the BATCH operator's SQL
    (``DEDUP_SPAN_REMOVAL_SQL``) over the whole corpus plus doc_id-range
    batch attribution — a hash-match therefore proves the module
    docstring's equivalence claim end-to-end: streamed owner-keeps /
    copy-strips across AND within micro-batches equals the one-shot
    transform, under exactly-once snapshot commits.

    Output: (doc_id, n_tokens, n_removed, cleaned_text, batch_id).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the per-batch operators carry their own 100 TB
    design (broadcast batch-side window probe against the persisted
    index — see ``spanmaint.extend_span_clean``)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .spanmaint import CLEAN_TABLE, run_span_stream

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_span_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_span_verify: span stream did not drain within "
                "600s; snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamspan", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "out", CLEAN_TABLE)).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        "cleaned_text",
        F.col("batch_id").cast("long").alias("batch_id"),
    )


def _stream_span_oracle_sql() -> str:
    """The batch span-removal SQL over the union corpus, each row
    attributed to its ascending doc_id-range micro-batch."""
    from ..operators.dedup import DEDUP_SPAN_REMOVAL_SQL

    return f"""
WITH clean AS ({DEDUP_SPAN_REMOVAL_SQL}),
m AS (SELECT max(doc_id) AS max_id FROM documents)
SELECT c.doc_id, c.n_tokens, c.n_removed, c.cleaned_text,
       CAST(CASE WHEN c.doc_id <= max_id // 3 THEN 0
                 WHEN c.doc_id <= 2 * max_id // 3 THEN 1
                 ELSE 2 END AS BIGINT) AS batch_id
FROM clean c CROSS JOIN m
"""


def stream_triplet_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of INCREMENTAL triplet mining
    (``streaming/tripletmaint.py``): the embeddings corpus arrives as
    three ascending vec_id-range NDJSON drops streamed through
    ``run_triplet_stream`` (availableNow, one file per micro-batch).
    Each batch appends its new positive pairs (the pair's max member
    arrived), mines hard negatives for its NEW anchors against the
    corpus-so-far through the persisted IVF index (quantizer trained
    once, on batch 0), and never re-mines an already-mined anchor.

    The read-back joins pairs to their anchor's mined negative; the
    DuckDB oracle replays the SEQUENTIAL definition exactly — per-batch
    realization, first-pair mining batches, candidates and partner
    exclusions frozen at the anchor's mining batch — so a hash-match
    proves the no-re-mining protocol end-to-end under exactly-once
    snapshot commits.

    Output: (anchor, positive, cos_ap, negative, cos_an, pair_batch,
    mined_batch).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the per-batch operators carry their own 100 TB
    design (label-pruned pair join, nprobe/K negative probe — see
    ``tripletmaint.extend_triplets``)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .tripletmaint import PAIRS_TABLE, TRIPLETS_TABLE, run_triplet_stream

    ensure_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    fp = corpus_fingerprint(emb, "vec_id")

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(
            emb, src, id_col="vec_id", cols=("vec_id", "label", "embedding")
        )
        q = run_triplet_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_triplet_verify: triplet stream did not drain "
                "within 600s; snapshot is partial, refusing to read it"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamtriplet", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    pairs = read_snapshot(spark, os.path.join(base, "out", PAIRS_TABLE))
    trip = read_snapshot(spark, os.path.join(base, "out", TRIPLETS_TABLE))
    return pairs.join(
        trip, pairs.vec_a == trip.anchor
    ).select(
        "anchor",
        F.col("vec_b").alias("positive"),
        F.col("cosine").alias("cos_ap"),
        "negative",
        "cos_an",
        F.col("batch_id").cast("long").alias("pair_batch"),
        F.col("mined_batch").cast("long").alias("mined_batch"),
    )


def _stream_triplet_oracle_sql() -> str:
    """Sequential replay of incremental triplet mining: batches are
    vec_id thirds; the quantizer is the Lloyd chain restricted to batch
    0's %5 sample; pairs realize at their max member's batch; an anchor
    mines at its first pair's batch against candidates and partner
    exclusions frozen there."""
    from ..operators.similarity import (
        _ASSIGN_T,
        IVF_NPROBE,
        TRIPLET_POS_TAU,
        _lloyd_chain,
    )

    chain = _lloyd_chain(
        train_where=(
            "vec_id % 5 = 0 AND vec_id <= (SELECT max(vec_id) // 3 FROM u)"
        )
    )
    return f"""
WITH {chain},
mx AS (SELECT max(vec_id) AS m FROM u),
bidx AS (
  SELECT u.vec_id,
         CASE WHEN u.vec_id <= m // 3 THEN 0
              WHEN u.vec_id <= 2 * m // 3 THEN 1
              ELSE 2 END AS b
  FROM u CROSS JOIN mx
),
bend(b, elim) AS (
  SELECT 0, (SELECT m // 3 FROM mx)
  UNION ALL SELECT 1, (SELECT 2 * m // 3 FROM mx)
  UNION ALL SELECT 2, (SELECT m FROM mx)
),
assigned AS (
  SELECT vec_id AS neighbor_id, u AS cu, cell
  FROM ({_ASSIGN_T.format(src="u", cents="c2")})
),
lab AS (SELECT vec_id, label FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(ua.u, ub.u), 4) + 0.0 AS cosine,
         bb.b AS pair_batch
  FROM lab a JOIN lab b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN u ua ON ua.vec_id = a.vec_id
  JOIN u ub ON ub.vec_id = b.vec_id
  JOIN bidx bb ON bb.vec_id = b.vec_id
  WHERE round(list_dot_product(ua.u, ub.u), 4) >= {TRIPLET_POS_TAU}
),
anchors AS (
  SELECT vec_a AS anchor, min(pair_batch) AS mined_batch
  FROM pairs GROUP BY vec_a
),
aend AS (
  SELECT anchor, mined_batch, elim
  FROM anchors JOIN bend ON bend.b = anchors.mined_batch
),
aprobe AS (
  SELECT anchor, qu, cell FROM (
    SELECT t.vec_id AS anchor, t.u AS qu, s.cell,
           row_number() OVER (PARTITION BY t.vec_id
               ORDER BY -list_dot_product(t.u, s.c), s.cell) AS rn
    FROM u t JOIN anchors a ON t.vec_id = a.anchor CROSS JOIN c2 s)
  WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT anchor, neighbor_id,
         round(list_dot_product(qu, cu), 4) + 0.0 AS cos_an
  FROM aprobe JOIN assigned USING (cell) JOIN aend USING (anchor)
  WHERE neighbor_id <= elim AND neighbor_id <> anchor
),
partners AS (
  -- a partner excludes only if its pair is REALIZED by the anchor's
  -- mining batch: max member <= elim (anchor-as-lower case; the
  -- anchor-as-higher case realizes at the anchor's own arrival, which
  -- is always <= its mining batch)
  SELECT p.vec_a AS anchor, p.vec_b AS nid, p.vec_b AS mx_member FROM pairs p
  UNION ALL
  SELECT p.vec_b AS anchor, p.vec_a AS nid, p.vec_b AS mx_member FROM pairs p
),
negatives AS (
  SELECT anchor, neighbor_id AS negative, cos_an, mined_batch
  FROM (
    SELECT c.*, a.mined_batch, row_number() OVER (
             PARTITION BY c.anchor ORDER BY c.cos_an DESC, c.neighbor_id ASC
           ) AS rk
    FROM cand c
    JOIN aend a ON a.anchor = c.anchor
    LEFT JOIN partners p
      ON p.anchor = c.anchor AND p.nid = c.neighbor_id
     AND p.mx_member <= a.elim
    WHERE p.anchor IS NULL
  ) WHERE rk = 1
)
SELECT p.vec_a AS anchor, p.vec_b AS positive, p.cosine AS cos_ap,
       n.negative, n.cos_an,
       CAST(p.pair_batch AS BIGINT) AS pair_batch,
       CAST(n.mined_batch AS BIGINT) AS mined_batch
FROM pairs p JOIN negatives n ON n.anchor = p.vec_a
"""


def stream_ann_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of INCREMENTAL ANN index maintenance
    (``streaming/annmaint.py``): the embeddings corpus arrives as three
    ascending vec_id-range NDJSON drops streamed through
    ``run_ann_stream`` (availableNow, one file per micro-batch).  Each
    batch is assigned to the fixed quantizer (trained once, on batch
    0's %5 sample) and appended to the cell-clustered index, then the
    FIXED query set (vec_id < N_QUERIES, batch-0 members) is served
    top-TOP_K against the index as of that batch.

    The read-back is the serves snapshot; the DuckDB oracle replays the
    SEQUENTIAL definition exactly — per-batch corpus cutoffs against
    the batch-0-trained Lloyd chain — so a hash-match proves the
    maintain-then-serve protocol end-to-end under exactly-once snapshot
    commits: every between-batch answer equals a fresh batch-built IVF
    serve over the corpus-so-far.

    Output: (batch_id, query_id, rank, neighbor_id, cosine).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the per-batch operators carry their own 100 TB
    design (driver-side probe-cell selection, manifest-stat-pruned
    corpus read — see ``annmaint.extend_ann_index``)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .annmaint import SERVES_TABLE, run_ann_stream

    ensure_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    fp = corpus_fingerprint(emb, "vec_id")

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(
            emb, src, id_col="vec_id", cols=("vec_id", "embedding")
        )
        q = run_ann_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_ann_verify: ann stream did not drain within "
                "600s; snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamann", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "out", SERVES_TABLE)).select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "query_id",
        "rank",
        "neighbor_id",
        "cosine",
    )


def _stream_ann_oracle_sql() -> str:
    """Sequential replay of incremental ANN maintain-then-serve: batches
    are vec_id thirds; the quantizer is the Lloyd chain restricted to
    batch 0's %5 sample; each batch's serve ranks the fixed query set's
    probed candidates over the corpus cutoff as of that batch."""
    from ..operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        _ASSIGN_T,
        _lloyd_chain,
    )

    chain = _lloyd_chain(
        train_where=(
            "vec_id % 5 = 0 AND vec_id <= (SELECT max(vec_id) // 3 FROM u)"
        )
    )
    return f"""
WITH {chain},
mx AS (SELECT max(vec_id) AS m FROM u),
bend(b, elim) AS (
  SELECT 0, (SELECT m // 3 FROM mx)
  UNION ALL SELECT 1, (SELECT 2 * m // 3 FROM mx)
  UNION ALL SELECT 2, (SELECT m FROM mx)
),
assigned AS (
  SELECT vec_id AS neighbor_id, u AS cu, cell
  FROM ({_ASSIGN_T.format(src="u", cents="c2")})
),
probes AS (
  SELECT vec_id AS query_id, u AS qu, cell FROM (
    SELECT t.vec_id, t.u, s.cell,
           row_number() OVER (PARTITION BY t.vec_id
               ORDER BY -list_dot_product(t.u, s.c), s.cell) AS rn
    FROM u t CROSS JOIN c2 s
    WHERE t.vec_id < {N_QUERIES})
  WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT e.b, p.query_id, a.neighbor_id,
         round(list_dot_product(p.qu, a.cu), 4) + 0.0 AS cosine
  FROM probes p JOIN assigned a USING (cell)
  JOIN bend e ON a.neighbor_id <= e.elim
  WHERE a.neighbor_id <> p.query_id
),
ranked AS (
  SELECT b, query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY b, query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT CAST(b AS BIGINT) AS batch_id, query_id,
       CAST(rank AS INT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# Drift threshold for the drift-armed probe: at sf0.01 the planted
# rotation makes batch 1's mean-sim drop 0.0651 under the batch-0 model
# (> 0.05 -> rebuild) and batch 2's drop 0.0359 under the rebuilt model
# (< 0.05 -> append) — deterministic 6dp-rounded scalars with ~0.015
# margin on both sides of the gate, far above any replay jitter.
ANN_DRIFT_THRESH = 0.05


def stream_ann_drift_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of the DRIFT-REBUILD regime of streamed ANN
    maintenance (``annmaint.extend_ann_index`` with ``retrain_drift``
    armed) — the operationally scary branch: the drift decision, the
    retrain on corpus ∪ batch, the index overwrite, the re-baseline,
    and post-rebuild serving.

    Fixture: the embeddings corpus with a PLANTED distribution shift —
    batches 1 and 2 (vec_id above max/3) arrive with the embedding
    ROTATED by DIM/2 positions.  A rotation is an exact permutation: no
    new float values, so NDJSON round-trip fidelity and the
    sequential-fold norms are untouched, yet the batch no longer fits
    the batch-0 quantizer.  Decisions at the ``ANN_DRIFT_THRESH`` gate
    are deterministic (see the constant's comment): the rebuild fires
    at batch 1 and ONLY there.

    The DuckDB oracle replays the whole protocol sequentially: batch 0
    served under the batch-0-trained Lloyd chain over the first third;
    batches 1 and 2 under the REBUILT chain (trained on the first two
    thirds' %5 sample — exactly ``_ivf_train``'s rule on the rebuild's
    corpus ∪ batch input), batch 1 against the overwritten index,
    batch 2 against overwrite + append.  A hash-match therefore proves
    end-to-end, through actual stream execution: the drift gate fired
    exactly once at the planted batch, the retrain input was exactly
    the (vec_id, u) SET (no replay duplication), and serving continued
    correctly against the rebuilt index.

    Output: (batch_id, query_id, rank, neighbor_id, cosine).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the rebuild itself costs ~2.2x an append at 1M
    vectors and fires only on the gate (BASELINE.md drift row)."""
    from ..operators.similarity import DIM
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .annmaint import SERVES_TABLE, run_ann_stream

    ensure_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    fp = corpus_fingerprint(emb, "vec_id")
    half = DIM // 2

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        cut = emb.agg(F.max("vec_id")).collect()[0][0] // 3
        shifted = emb.select(
            "vec_id",
            F.when(
                F.col("vec_id") > cut,
                F.concat(
                    F.slice("embedding", half + 1, half),
                    F.slice("embedding", 1, half),
                ),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
        _write_ordered_batches(
            shifted, src, id_col="vec_id", cols=("vec_id", "embedding")
        )
        q = run_ann_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
            retrain_drift=ANN_DRIFT_THRESH,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_ann_drift_verify: ann stream did not drain within "
                "600s; snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamanndrift", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "out", SERVES_TABLE)).select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "query_id",
        "rank",
        "neighbor_id",
        "cosine",
    )


def _stream_ann_drift_oracle_sql() -> str:
    """Sequential replay of the drift-rebuild protocol: the planted
    rotation on vec_id > max/3; model M0 (batch-0 %5 sample) serves
    batch 0 over the first third; the rebuild model M1 (first two
    thirds' %5 sample — _ivf_train's rule on the rebuild input) serves
    batch 1 over the first two thirds and batch 2 over the whole
    corpus."""
    from ..operators.similarity import (
        DIM,
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        _ASSIGN_T,
        _lloyd_chain_from,
    )

    half = DIM // 2
    m0 = _lloyd_chain_from(
        "u",
        "d0",
        "vec_id % 5 = 0 AND vec_id <= (SELECT m // 3 FROM mx)",
    )
    m1 = _lloyd_chain_from(
        "u",
        "d1",
        "vec_id % 5 = 0 AND vec_id <= (SELECT 2 * m // 3 FROM mx)",
    )

    def probe(cents: str, alias: str) -> str:
        return f"""{alias} AS (
  SELECT vec_id AS query_id, u AS qu, cell FROM (
    SELECT t.vec_id, t.u, s.cell,
           row_number() OVER (PARTITION BY t.vec_id
               ORDER BY -list_dot_product(t.u, s.c), s.cell) AS rn
    FROM u t CROSS JOIN {cents} s
    WHERE t.vec_id < {N_QUERIES})
  WHERE rn <= {IVF_NPROBE}
)"""

    def assigned(src: str, cents: str, alias: str) -> str:
        return f"""{alias} AS (
  SELECT vec_id AS neighbor_id, u AS cu, cell
  FROM ({_ASSIGN_T.format(src=src, cents=cents)})
)"""

    def cand(b: int, probes: str, idx: str) -> str:
        return f"""SELECT DISTINCT {b} AS b, p.query_id, a.neighbor_id,
       round(list_dot_product(p.qu, a.cu), 4) + 0.0 AS cosine
FROM {probes} p JOIN {idx} a USING (cell)
WHERE a.neighbor_id <> p.query_id"""

    return f"""
WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
mx AS (SELECT max(vec_id) AS m FROM raw),
e AS (
  SELECT vec_id,
         CASE WHEN vec_id > (SELECT m // 3 FROM mx)
              THEN list_concat(v[{half + 1}:], v[:{half}])
              ELSE v END AS v
  FROM raw),
u AS (SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM e),
{m0},
{m1},
cor0 AS (SELECT vec_id, u FROM u WHERE vec_id <= (SELECT m // 3 FROM mx)),
cor1 AS (SELECT vec_id, u FROM u WHERE vec_id <= (SELECT 2 * m // 3 FROM mx)),
{assigned("cor0", "d0c2", "a0")},
{assigned("cor1", "d1c2", "a1")},
{assigned("u", "d1c2", "a2")},
{probe("d0c2", "p0")},
{probe("d1c2", "p1")},
cand AS (
  {cand(0, "p0", "a0")}
  UNION ALL
  {cand(1, "p1", "a1")}
  UNION ALL
  {cand(2, "p1", "a2")}
),
ranked AS (
  SELECT b, query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY b, query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT CAST(b AS BIGINT) AS batch_id, query_id,
       CAST(rank AS INT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}
"""


def stream_lm_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of INCREMENTAL LM maintenance
    (``streaming/lmmaint.py``): the documents corpus arrives as three
    ascending doc_id-range NDJSON drops streamed through
    ``run_lm_stream`` (availableNow, one file per micro-batch,
    ``compact_every=2`` so a FOLD compaction of the count-delta tables
    lands mid-stream).  Each batch appends its n-gram count deltas and
    scores its own documents against the cumulative merge-on-read model
    (unigram fold + prev-key-pruned bigram fold) INCLUDING the batch.

    The read-back is the scores snapshot; the DuckDB oracle replays the
    SEQUENTIAL definition exactly — batch b's docs scored under counts
    cumulative through batch b, the same backoff CASE as
    ``text_lm_score``.  A hash-match therefore proves, through actual
    stream execution: the count-monoid append protocol, merge-on-read
    serving, manifest-stat pruning of the bigram reads, the
    mid-stream fold compaction (pure collapse — the oracle never sees
    it), and exactly-once snapshot commits.

    Output: (doc_id, batch_id, n_tokens, mean_nll).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the per-batch operators carry their own 100 TB
    design (O(batch) maintenance, Heaps-bounded unigram fold,
    key-pruned bigram reads, fold-bounded read amplification — see
    ``lmmaint`` module docstring)."""
    from ..sinks.artifacts import corpus_fingerprint
    from .lmmaint import SCORES_TABLE, run_lm_stream

    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_lm_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
            compact_every=2,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_lm_verify: LM stream did not drain within 600s; "
                "snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamlm", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "out", SCORES_TABLE)).select(
        "doc_id", "batch_id", "n_tokens", "mean_nll"
    )


def _stream_lm_oracle_sql() -> str:
    """Sequential replay of incremental LM scoring: batches are doc_id
    thirds; batch b's documents score under counts cumulative through
    batch b with the exact ``text_lm_score`` backoff arithmetic."""
    from ..operators.text import LM_BACKOFF

    return f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
bdoc AS (
  SELECT d.doc_id, lower(d.text) AS lt,
         CASE WHEN d.doc_id <= m // 3 THEN 0
              WHEN d.doc_id <= 2 * m // 3 THEN 1
              ELSE 2 END AS bid
  FROM documents d CROSS JOIN mx
),
pos_toks AS (
  SELECT doc_id, bid, unnest(generate_series(1, len(t))) AS pos, t
  FROM (SELECT doc_id, bid, string_split(lt, ' ') AS t FROM bdoc)
),
toks AS (
  SELECT doc_id, bid, pos, t[pos] AS tok,
         CASE WHEN pos > 1 THEN t[pos - 1] ELSE NULL END AS prev
  FROM pos_toks
),
sb(s) AS (VALUES (0), (1), (2)),
uni AS (
  SELECT s, tok, count(*) AS c1
  FROM toks JOIN sb ON toks.bid <= sb.s GROUP BY 1, 2
),
big AS (
  SELECT s, prev, tok, count(*) AS c2
  FROM toks JOIN sb ON toks.bid <= sb.s
  WHERE prev IS NOT NULL GROUP BY 1, 2, 3
),
scal AS (
  SELECT s, CAST(sum(c1) AS BIGINT) AS total, count(*) AS vocab
  FROM uni GROUP BY 1
),
scored AS (
  SELECT tk.doc_id, tk.bid,
         CASE
           WHEN tk.prev IS NULL
             THEN -ln((coalesce(u.c1, 0) + 1.0) / (total + vocab))
           WHEN bg.c2 IS NOT NULL
             THEN -ln(bg.c2 * 1.0 / up.c1)
           ELSE -ln({LM_BACKOFF})
                + -ln((coalesce(u.c1, 0) + 1.0) / (total + vocab))
         END AS nll
  FROM toks tk
  LEFT JOIN uni u ON u.s = tk.bid AND tk.tok = u.tok
  LEFT JOIN uni up ON up.s = tk.bid AND tk.prev = up.tok
  LEFT JOIN big bg ON bg.s = tk.bid AND tk.prev = bg.prev
                   AND tk.tok = bg.tok
  JOIN scal ON scal.s = tk.bid
)
SELECT doc_id, CAST(bid AS BIGINT) AS batch_id, count(*) AS n_tokens,
       round(avg(nll), 6) + 0.0 AS mean_nll
FROM scored
GROUP BY 1, 2
"""


def stream_export_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of the COMPOSED streamed export pipeline
    (``streaming/export.py`` — curation feeding sequence packing in one
    foreachBatch): three ascending doc_id-range NDJSON drops stream
    through ``run_export_stream``; each batch is admitted against
    everything already accepted, and the admitted docs are appended to
    the SAME token stream earlier batches packed.

    The read-back aggregates the packed snapshot per sequence; the
    DuckDB oracle replays BOTH stages sequentially — the curate
    admission CTE chain (shared verbatim with ``stream_curate_verify``)
    ordered by (admission batch, doc_id), then the concat-and-chunk
    prefix sum over exactly that order.  A hash-match therefore proves
    the stage COUPLING end-to-end: the packer consumed exactly the
    committed admitted set, in admission order, continuing the
    cross-batch token total — the reference's export dataflow
    (batch-anchored by ``corpus_export_verify``) as a live pipeline.

    Output: (seq_id, n_docs, total_tokens, min_doc, max_doc,
    n_boundary_docs, n_batches).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); each stage carries its own 100 TB design (see
    ``streaming/export.py``)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .export import PACK_DIR, run_export_stream

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_export_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
            # compaction INSIDE the hash-matched path (the
            # stream_lm_verify precedent): mid-stream docs/bands/packed
            # rewrites must be invisible to the oracle
            compact_every=2,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_export_verify: export stream did not drain within "
                "600s; snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamexportc2", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    packed = read_snapshot(
        spark, os.path.join(base, "out", PACK_DIR, PACKED_TABLE)
    )
    return packed.groupBy(F.col("seq_id").cast("long").alias("seq_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(F.col("spans_boundary").cast("long")).alias("n_boundary_docs"),
        F.count_distinct("batch_id").alias("n_batches"),
    )


def _stream_export_oracle_sql() -> str:
    """Sequential replay of the composed pipeline: the shared admission
    CTE chain, then the concat-and-chunk prefix sum over the admitted
    docs in (admission batch, doc_id) order."""
    return f"""
WITH {_curate_admission_ctes()},
ordered AS (
  SELECT doc_id, batch, n_tokens,
         sum(n_tokens) OVER (ORDER BY batch, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM acc
),
assign AS (
  SELECT doc_id, batch, n_tokens,
         (cum - n_tokens) // {PACK_SEQ_LEN} AS seq_id,
         ((cum - 1) // {PACK_SEQ_LEN}) > ((cum - n_tokens) // {PACK_SEQ_LEN})
           AS spans_boundary
  FROM ordered
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(CASE WHEN spans_boundary THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_docs,
       CAST(count(DISTINCT batch) AS BIGINT) AS n_batches
FROM assign
GROUP BY 1
"""


def stream_phash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run incremental image near-dup maintenance
    (``streaming/phashmaint.py``) over the documents corpus split into
    three doc_id-range drops, then read the PAIRS SNAPSHOT back — every
    near-dup image pair stamped with the batch whose arrival discovered
    it (the batch of its LATER endpoint).

    The DuckDB oracle replays the whole pipeline from the cell formula
    (the CTE chain shared verbatim with ``dedup_phash``'s oracle) and
    assigns each pair greatest(batch(doc_a), batch(doc_b)) — a
    hash-match therefore proves the incremental protocol: each batch
    probed the committed index (earlier batches only), the read-back
    protocol produced no duplicate or missing pairs across replays,
    and a mid-stream compaction (``compact_every=2``, INSIDE the
    hash-matched path) changed nothing a reader sees.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the operators it drives carry their own 100 TB
    design (domain-bounded key collect, key-pruned index probe,
    clustered compaction)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .phashmaint import PAIRS_TABLE, run_phash_stream

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        _write_ordered_batches(docs, src)
        q = run_phash_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
            compact_every=2,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_phash_verify: stream did not drain within 600s; "
                "snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamphash", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    pairs = read_snapshot(spark, os.path.join(base, "out", PAIRS_TABLE))
    return pairs.select(
        "doc_a", "doc_b", "hamming", F.col("batch_id").cast("long").alias("batch_id")
    )


def _stream_phash_oracle_sql() -> str:
    """The batch pipeline's signature/band/pair CTEs plus the tercile
    batch assignment the ordered writer uses; a pair lands in the batch
    of its later endpoint."""
    from ..operators.multimodal import PHASH_SIG_CTES

    return f"""
WITH {PHASH_SIG_CTES},
mx AS (SELECT max(doc_id) AS m FROM documents),
assign AS (
  SELECT doc_id,
         CASE WHEN doc_id <= (SELECT m // 3 FROM mx) THEN 0
              WHEN doc_id <= (SELECT 2 * m // 3 FROM mx) THEN 1
              ELSE 2 END AS b
  FROM documents
)
SELECT p.doc_a, p.doc_b, p.hamming,
       CAST(greatest(ba.b, bb.b) AS BIGINT) AS batch_id
FROM phash_pairs p
JOIN assign ba ON p.doc_a = ba.doc_id
JOIN assign bb ON p.doc_b = bb.doc_id
"""


def snapshot_cdc_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of the incremental-changes reader
    (``sinks/snapshot.snapshot_changes`` — the CDC surface downstream
    consumers follow a snapshot table with, reading O(delta) files
    instead of rescanning the table).

    Build: the documents corpus lands as four ``doc_id % 4`` append
    commits under per-writer txn fences (versions 1/2/4/5), with a
    COMPACTION between batches 1 and 2 (version 3, rewrites everything
    committed so far into one file) and a crash-replay of batch 2
    (fenced — commits no version).  Probe: a consumer checkpointed at
    version 1 asks for everything since.

    The DuckDB oracle derives each row's commit version straight from
    the ``doc_id % 4`` batch algebra — a hash-match therefore proves,
    end-to-end under the driver's vanilla session: batch 0's rows are
    absent (before the checkpoint), the compaction re-emitted NOTHING
    despite rewriting every earlier row, the replayed append
    double-counted nothing, and appends landing after the compaction
    diff against the compacted file list (versions 4/5 intact).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the O(delta) plan claim — a consumer's read
    touches no checkpointed file — is pinned by
    ``test_snapshot_changes_incremental_read`` via ``inputFiles``.

    Reference parity: the reference has no changes API; consumers
    re-list S3 prefixes (README.md:48 delegates querying to Athena
    over the whole lake).  This is the beyond-reference incremental
    path for the same consumers."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sinks.snapshot import (
        compact_snapshot,
        snapshot_changes,
        write_snapshot,
    )
    from ..sources.tables import ensure_runtime_conf

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        tbl = os.path.join(stage, "tbl")
        for k in range(4):
            batch = docs.filter(F.col("doc_id") % 4 == k).select("doc_id")
            v = write_snapshot(
                spark, batch.repartition(2), tbl,
                txn_app="cdc", txn_version=k,
            )
            if v is None:
                raise RuntimeError(f"batch {k} unexpectedly fenced")
            if k == 1:
                compact_snapshot(spark, tbl, target_files=1)
            if k == 2 and (
                write_snapshot(
                    spark, batch, tbl, txn_app="cdc", txn_version=2
                )
                is not None
            ):
                raise RuntimeError("replayed batch 2 was not fenced")
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("snapcdc", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return snapshot_changes(
        spark, os.path.join(base, "tbl"), from_version=1
    ).select("doc_id", F.col("_commit_version").alias("commit_version"))


SNAPSHOT_CDC_VERIFY_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 4 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 5 END
            AS BIGINT) AS commit_version
FROM documents
WHERE doc_id % 4 <> 0
"""


def snapshot_delete_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of row-level DELETE
    (``sinks/snapshot.delete_from_snapshot`` — the right-to-be-forgotten
    path: copy-on-write at file grain, candidates pruned manifest-level
    on the cluster stats).

    Build: documents split at max(doc_id)//2 into two doc_id-CLUSTERED
    appends, then ``DELETE WHERE doc_id % 7 = 3 AND doc_id <= mid``
    with ``cluster_range=(0, mid)``.  The builder RAISES unless every
    upper-half file rode into the post-delete manifest byte-identical
    (path and stats unchanged) — so a green row also certifies the
    file-grain rewrite claim, not just the surviving row set.  Probe:
    the final snapshot read back.

    The DuckDB oracle replays the delete as a WHERE NOT(...) over
    documents, deriving the same mid from max(doc_id)//2 — predicate
    strings are plain SQL precisely so deletes replay verbatim on any
    engine (compliance audit: prove the lake state equals
    source-minus-predicate).

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); at 100 TB the manifest prune opens only the files
    whose [min, max] overlaps the takedown range, and untouched files
    are never read, rewritten, or re-statted."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sinks.snapshot import (
        _load_manifest,
        delete_from_snapshot,
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )
    from ..sinks.fsutil import _fs
    from ..sources.tables import ensure_runtime_conf

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        tbl = os.path.join(stage, "tbl")
        mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
        for lo_half in (True, False):
            cond = (
                F.col("doc_id") <= mid if lo_half else F.col("doc_id") > mid
            )
            write_snapshot(
                spark,
                docs.filter(cond).select("doc_id"),
                tbl,
                cluster_col="doc_id",
            )
        before = set(snapshot_files(spark, tbl))
        fs, _ = _fs(spark, tbl)
        stats_before = _load_manifest(spark, fs, tbl, 2)["stats"]
        high = {f for f, rng in stats_before.items() if rng[0] > mid}
        v = delete_from_snapshot(
            spark,
            tbl,
            f"doc_id % 7 = 3 AND doc_id <= {mid}",
            cluster_range=(0, mid),
        )
        if v is None:
            raise RuntimeError("delete matched nothing; fixture broken")
        manifest = _load_manifest(spark, fs, tbl, v)
        after = set(manifest["files"])
        if not high <= after:
            raise RuntimeError("an upper-half file was rewritten")
        if any(manifest["stats"][f] != stats_before[f] for f in high):
            raise RuntimeError("an upper-half file's stats changed")
        if not (before - after):
            raise RuntimeError("no file was rewritten; delete was a no-op")
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("snapdel", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "tbl")).select("doc_id")


SNAPSHOT_DELETE_VERIFY_SQL = """
SELECT doc_id
FROM documents
WHERE NOT (doc_id % 7 = 3
           AND doc_id <= (SELECT max(doc_id) // 2 FROM documents))
"""


def snapshot_schema_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of ADDITIVE SCHEMA EVOLUTION on snapshot
    tables (``sinks/snapshot._merge_schemas``): the schema is table
    metadata riding the manifest, so readers never pay a
    footer-per-file mergeSchema pass, and files written before a column
    existed surface NULL for it.

    Build: the even-doc_id half lands as version 1 with (doc_id) only;
    the odd half lands as version 2 having grown a ``lang`` column
    (derived from doc_id % 3); version 3 COMPACTS the table — the
    evolution-aware union read + schema carry-through, inside the
    hash-matched path.  Probe: the final snapshot read back.

    A hash-match proves, under the driver's vanilla session: the merged
    schema governs the read (pre-evolution rows carry NULL lang, not a
    schema error and not a dropped column), and compaction rewrote the
    mixed-schema file set without losing either the column or the
    NULLs.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the design point is plan-time O(1) schema
    resolution at any file count."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sinks.snapshot import (
        compact_snapshot,
        read_snapshot,
        write_snapshot,
    )
    from ..sources.tables import ensure_runtime_conf

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        tbl = os.path.join(stage, "tbl")
        write_snapshot(
            spark,
            docs.filter(F.col("doc_id") % 2 == 0).select("doc_id"),
            tbl,
        )
        write_snapshot(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1).select(
                "doc_id",
                F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string"))
                .alias("lang"),
            ),
            tbl,
        )
        compact_snapshot(spark, tbl, target_files=1)
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("snapschema", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "tbl")).select(
        "doc_id", "lang"
    )


SNAPSHOT_SCHEMA_VERIFY_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1
            THEN 'l' || CAST(doc_id % 3 AS VARCHAR) END AS lang
FROM documents
"""


def snapshot_merge_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of MERGE / upsert
    (``sinks/snapshot.merge_into_snapshot``): the even-doc_id half of
    documents lands as version 1 tagged ``base``; a source of every
    doc_id % 3 = 0 row tagged ``merged`` merges by doc_id — evens
    divisible by 3 are UPDATED in place, odds divisible by 3 are
    INSERTED, everything else survives untouched, in one atomic
    version (fenced: the builder replays the merge and RAISES unless
    the replay is a no-op).  Probe: the final snapshot read back.

    The DuckDB oracle derives the same state from the doc_id algebra —
    a hash-match proves matched-key replacement, unmatched insertion,
    survivor retention, and exactly-once under replay, end-to-end
    under the driver's vanilla session.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the file-grain rewrite + manifest-level candidate
    pruning claims are pinned by
    ``test_merge_into_snapshot_upsert_file_grain``."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sinks.snapshot import (
        merge_into_snapshot,
        read_snapshot,
        write_snapshot,
    )
    from ..sources.tables import ensure_runtime_conf

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        tbl = os.path.join(stage, "tbl")
        write_snapshot(
            spark,
            docs.filter(F.col("doc_id") % 2 == 0).select(
                "doc_id", F.lit("base").alias("tag")
            ),
            tbl,
            cluster_col="doc_id",
        )
        src = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.lit("merged").alias("tag")
        )
        v = merge_into_snapshot(
            spark, tbl, src, "doc_id", txn_app="m", txn_version=0
        )
        if v is None:
            raise RuntimeError("merge unexpectedly fenced; fixture broken")
        if (
            merge_into_snapshot(
                spark, tbl, src, "doc_id", txn_app="m", txn_version=0
            )
            is not None
        ):
            raise RuntimeError("replayed merge was not fenced")
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("snapmerge", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(spark, os.path.join(base, "tbl")).select(
        "doc_id", "tag"
    )


SNAPSHOT_MERGE_VERIFY_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'merged' ELSE 'base' END AS tag
FROM documents
WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
"""


def stream_upsert_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled probe of streamed MERGE ingestion
    (``streaming/upsert.py``): three NDJSON drops arrive as
    micro-batches (availableNow, one file per batch), batch b carrying
    the LATEST state (tag = b) of every document with
    ``doc_id % 3 = b OR doc_id % 5 = b`` — so most documents are
    re-upserted across batches and the entities table must converge to
    last-writer-wins, one row per key, with a mid-stream compaction
    (``compact_every=2``) inside the hash-matched path.

    The DuckDB oracle derives the final state from the batch algebra:
    every doc's last writer is ``greatest(doc_id % 3, doc_id % 5 if it
    is a batch id else -1)``.  A hash-match proves matched-key
    replacement across micro-batches, insert-on-first-sight, the
    exactly-once fence (a replayed batch would double nothing — it is
    a fenced no-op by txn mark), and compaction content-neutrality,
    end-to-end under the driver's vanilla session.

    Scale shape: fixture-scale by construction (a correctness probe,
    BENCH_EXCLUDEd); the per-batch operators carry their own 100 TB
    design (file-grain merge rewrite + manifest-stats candidate
    pruning on the key-clustered table)."""
    from ..sinks.artifacts import corpus_fingerprint
    from ..sources.tables import ensure_runtime_conf
    from .upsert import ENTITIES_TABLE, run_upsert_stream

    ensure_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs)

    def _build(stage: str) -> None:
        src = os.path.join(stage, "src")
        t0 = 1_000_000_000
        for b in range(3):
            cond = (F.col("doc_id") % 3 == b) | (F.col("doc_id") % 5 == b)
            d = os.path.join(src, f"b{b}")
            docs.filter(cond).select(
                "doc_id", F.lit(b).cast("long").alias("tag")
            ).repartition(1).write.mode("overwrite").json(d)
            for name in os.listdir(d):
                p = os.path.join(d, name)
                if name.startswith("_"):
                    os.remove(p)
                else:
                    os.utime(p, (t0 + b, t0 + b))
        q = run_upsert_stream(
            spark,
            os.path.join(src, "b*"),
            os.path.join(stage, "out"),
            os.path.join(stage, "ckpt"),
            max_files_per_trigger=1,
            compact_every=2,
        )
        finished = q.awaitTermination(600)
        q.stop()
        if not finished:
            raise TimeoutError(
                "stream_upsert_verify: stream did not drain within 600s; "
                "snapshot is partial, refusing to read it back"
            )
        with open(os.path.join(stage, "_COMPLETE"), "w") as f:
            f.write(fp)

    base = build_once(
        _stage_dir("streamupsert", _sf_name(sf_dir), fp),
        "_COMPLETE",
        _build,
    )
    return read_snapshot(
        spark, os.path.join(base, "out", ENTITIES_TABLE)
    ).select("doc_id", "tag")


STREAM_UPSERT_VERIFY_SQL = """
SELECT doc_id,
       CAST(greatest(doc_id % 3,
                     CASE WHEN doc_id % 5 <= 2 THEN doc_id % 5
                          ELSE -1 END) AS BIGINT) AS tag
FROM documents
"""


STREAMING_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "stream_pack_verify": (stream_pack_verify, STREAM_PACK_VERIFY_SQL),
    "ocsf_stream_verify": (ocsf_stream_verify, _stream_verify_oracle_sql()),
    "stream_curate_verify": (stream_curate_verify, _stream_curate_oracle_sql()),
    "stream_graph_verify": (stream_graph_verify, _stream_graph_oracle_sql()),
    "stream_span_verify": (stream_span_verify, _stream_span_oracle_sql()),
    "stream_triplet_verify": (stream_triplet_verify, _stream_triplet_oracle_sql()),
    "stream_ann_verify": (stream_ann_verify, _stream_ann_oracle_sql()),
    "stream_ann_drift_verify": (
        stream_ann_drift_verify,
        _stream_ann_drift_oracle_sql(),
    ),
    "stream_lm_verify": (stream_lm_verify, _stream_lm_oracle_sql()),
    "stream_export_verify": (stream_export_verify, _stream_export_oracle_sql()),
    "stream_phash_verify": (stream_phash_verify, _stream_phash_oracle_sql()),
    "snapshot_cdc_verify": (snapshot_cdc_verify, SNAPSHOT_CDC_VERIFY_SQL),
    "snapshot_delete_verify": (snapshot_delete_verify, SNAPSHOT_DELETE_VERIFY_SQL),
    "snapshot_schema_verify": (snapshot_schema_verify, SNAPSHOT_SCHEMA_VERIFY_SQL),
    "snapshot_merge_verify": (snapshot_merge_verify, SNAPSHOT_MERGE_VERIFY_SQL),
    "stream_upsert_verify": (stream_upsert_verify, STREAM_UPSERT_VERIFY_SQL),
}
