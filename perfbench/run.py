"""Benchmark of the FDR -> OCSF pipeline, end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Runs one workload (see README.md), checks every output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around the package's entry points and reports the
per-layer metrics instead.  Everything the run writes lives in
``.perfbench_work/`` under the repository root and is removed on exit.
Exits non-zero, without a result line, on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PKG = "query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_batch", "etl_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the measured phase runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", choices=("after_setup", "mid_run"),
                    help="raise at this point (exercises the clean-exit path)")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and size Spark to
    the cores this process may use."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(REPO, PKG)):
        print(f"perfbench: package {PKG} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)

    from lifecycle import Run
    from workloads import WORKLOADS, Context

    try:
        with Run(work) as run:
            result = WORKLOADS[args.workload](Context(run, args, T_START))
            ctx_errors = result.pop("errors", [])
    except SystemExit as ex:
        print(f"perfbench: terminated ({ex.code})", file=sys.stderr)
        return 128 + 15 if ex.code in (None, 0) else int(ex.code)
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    for e in ctx_errors:
        print("perfbench: check failed: " + e, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
