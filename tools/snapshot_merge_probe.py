"""MERGE (upsert) probe: file-grain copy-on-write cost as the table
GROWS past the batch's key footprint — same question as the delete
probe, asked of the read-modify-write verb a streamed entity pipeline
pays every micro-batch.

Builds one doc_id-CLUSTERED snapshot table of N rows, then times three
merges of a 1,000-key batch (warmup merge paid first on a disjoint
range, so the timed runs see a hot JVM):

* ``trickle`` — contiguous keys spanning ~one file: the bounded-key
  collect proves the source small, candidates prune manifest-level,
  and the source BROADCASTS into the semi/anti joins.
* ``scattered`` — 1,000 keys striding the whole key space: pruning
  saturates (every file holds a key) and every file rewrites — the
  honest worst case, reported, not hidden.
* ``insert-only`` — 1,000 keys beyond the table's range: no file holds
  a match, nothing rewrites, the batch stages as a pure insert.

Reports wall seconds, candidate files, and files rewritten per mode.
The scale claim: trickle cost tracks the batch's key-range footprint
(candidates ~2 of F), not the table.

Usage: python tools/snapshot_merge_probe.py [rows]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
        current_version,
        merge_into_snapshot,
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.fsutil import (
        _fs,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="qopcfdr_mergeprobe_")
    out = {"rows": rows, "cores": int(cpus), "batch_keys": 1000}
    try:
        tbl = os.path.join(base, "tbl")
        write_snapshot(
            spark,
            spark.range(rows).select(
                F.col("id").alias("doc_id"),
                F.md5(F.col("id").cast("string")).alias("text"),
            ),
            tbl,
            cluster_col="doc_id",
        )
        out["files"] = len(snapshot_files(spark, tbl))

        def batch(ids_df):
            return ids_df.select(
                F.col("id").alias("doc_id"),
                F.lit("merged").alias("text"),
            )

        def timed(src):
            fs, _ = _fs(spark, tbl)
            v0 = current_version(spark, tbl)
            before = set(snapshot_files(spark, tbl, v0))
            t0 = time.time()
            v = merge_into_snapshot(spark, tbl, src, "doc_id")
            wall = time.time() - t0
            after = set(_load_manifest(spark, fs, tbl, v)["files"])
            return {
                "sec": round(wall, 3),
                "rewritten": len(before - after),
                "files_after": len(after),
            }

        lo = rows // 2
        timed(batch(spark.range(lo - 20_000, lo - 19_000)))  # warmup
        out["trickle"] = timed(batch(spark.range(lo, lo + 1000)))
        out["scattered"] = timed(
            batch(spark.range(1000).select((F.col("id") * (rows // 1000)).alias("id")))
        )
        out["insert_only"] = timed(batch(spark.range(rows * 2, rows * 2 + 1000)))
        out["final_rows"] = read_snapshot(spark, tbl).count()
        out["expected_rows"] = rows + 1000  # only inserts change the count
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
