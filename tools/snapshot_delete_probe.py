"""Row-level DELETE probe: file-grain copy-on-write cost as the table
GROWS past the takedown's footprint — the 100 TB question is whether a
narrow delete pays for the table or for the files it touches.

Builds one doc_id-CLUSTERED snapshot table of N rows across F files,
then times three deletes of the same ~one-file-wide id range:

* ``pruned``   — with ``cluster_range``: the manifest's per-file
  [min, max] bounds the candidate set BEFORE any data is read.
* ``unpruned`` — no range hint: every file is a candidate; the match
  scan still row-group-skips, but pays a footer+scan task per file.
* ``no-match`` — a pruned delete of an empty id range: must commit
  nothing and cost near zero.

Reports wall seconds, files rewritten, and the candidate-file count per
mode.  The scale claim being probed: rewritten files ≈ range/filespan,
independent of table size, and the pruned candidate count equals the
rewritten count (+ boundary files) rather than F.

Usage: python tools/snapshot_delete_probe.py [rows] [files]
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
    files = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        _load_manifest,
        current_version,
        delete_from_snapshot,
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

    base = tempfile.mkdtemp(prefix="qopcfdr_delprobe_")
    out = {"rows": rows, "files": files, "cores": int(cpus)}
    try:
        df = (
            spark.range(rows)
            .select(F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text"))
        )
        tbl = os.path.join(base, "tbl")
        write_snapshot(spark, df, tbl, cluster_col="doc_id")
        # takedown ~one file's span of ids, mid-table
        span = rows // files
        lo, hi = rows // 2, rows // 2 + span // 2

        def candidates(cluster_range):
            fs, _ = _fs(spark, tbl)
            m = _load_manifest(spark, fs, tbl, current_version(spark, tbl))
            if cluster_range is None:
                return len(m["files"])
            lo_, hi_ = cluster_range
            return sum(
                1
                for f in m["files"]
                if (rng := m["stats"].get(f)) is None
                or rng[0] is None
                or (rng[0] <= hi_ and lo_ <= rng[1])
            )

        def timed(predicate, cluster_range):
            fs, _ = _fs(spark, tbl)
            v0 = current_version(spark, tbl)
            before = set(snapshot_files(spark, tbl, v0))
            cand = candidates(cluster_range)
            t0 = time.time()
            v = delete_from_snapshot(
                spark, tbl, predicate, cluster_range=cluster_range
            )
            wall = time.time() - t0
            if v is None:
                return {"sec": round(wall, 3), "candidates": cand,
                        "rewritten": 0, "committed": False}
            after = set(_load_manifest(spark, fs, tbl, v)["files"])
            return {
                "sec": round(wall, 3),
                "candidates": cand,
                "rewritten": len(before - after),
                "committed": True,
            }

        def restore():
            write_snapshot(
                spark,
                df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                tbl,
                cluster_col="doc_id",
            )

        # untimed warmup: pay codegen/JIT once, then restore
        timed(f"doc_id >= {lo} AND doc_id < {hi}", (lo, hi - 1))
        restore()
        out["pruned"] = timed(
            f"doc_id >= {lo} AND doc_id < {hi}", (lo, hi - 1)
        )
        restore()
        out["unpruned"] = timed(f"doc_id >= {lo} AND doc_id < {hi}", None)
        out["no_match"] = timed(
            f"doc_id >= {2 * rows} AND doc_id < {2 * rows + 10}",
            (2 * rows, 2 * rows + 10),
        )
        out["final_rows"] = read_snapshot(spark, tbl).count()
        # deleted once, re-appended, deleted again -> net one range gone
        out["expected_rows"] = rows - (hi - lo)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
