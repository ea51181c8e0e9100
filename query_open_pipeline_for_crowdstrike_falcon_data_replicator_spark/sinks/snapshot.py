"""Snapshot-isolated versioned parquet tables (Delta-lite, no deps).

Every streamed commit in the package lands here (``run_stream``'s 17
sinks, the EWMA monitor, the maintenance twins).  A table whose files
are rewritten in place would need a reader maintenance window for
compaction; this module has none, by the standard lakehouse trick
(Delta/Iceberg/Hudi): the table's state is an immutable, versioned
**manifest** (the list of data files), and readers plan from a manifest,
never from a directory listing.

Layout under the table root::

    _snapshots/v000000000001.json   <- manifest: {"files": [...], ...}
    _snapshots/v000000000002.json
    data/<token>/part-*.parquet     <- immutable data files, one dir per write

Protocol:

* **Write** (append/overwrite): land new parquet files under a fresh
  ``data/<token>/`` dir (a crash here leaves only unreferenced orphans),
  then commit manifest ``v(N+1)`` = previous file list + new files
  (append) or new files alone (overwrite).  The commit is
  **create-exclusive** (``fs.create(path, overwrite=False)``) with
  re-read-and-retry on version conflict — optimistic concurrency.
  Create-exclusive is atomic on HDFS AND the local filesystem (unlike
  rename, which POSIX lets clobber an existing destination, so two
  concurrent committers could both "win" and silently lose a manifest).
  The residual hazard is a committer dying mid-write, leaving a
  truncated manifest at its version slot; readers skip unparseable
  manifests and writers reap them once they are older than
  ``CORRUPT_MANIFEST_MIN_AGE_S`` (age-guarded so a slow-but-alive
  writer is never killed mid-write).  On S3 a true CAS needs the
  store's conditional-PUT; s3a translates create-exclusive to a HEAD +
  PUT, fine for the single-writer streaming case.
* **Read**: load the latest (or any pinned) manifest and read exactly
  those files.  Concurrent writes/compactions are invisible until the
  reader re-plans — snapshot isolation, plus time travel for free.
* **Rewrite** (MERGE, DELETE, compaction): one copy-on-write protocol,
  ``_rewrite``.  From the head manifest it derives the files to
  replace and the frame staged in their place (DELETE: the hit files'
  surviving rows; MERGE: the hit files' unmatched rows plus the
  source; compaction: every file, repartitioned or re-clustered), then
  stages, carries every other file and its stats forward untouched,
  and commits fenced on the version it derived from.  A concurrent
  commit in between raises ``SnapshotConflictError`` and the rewrite
  re-derives against the new head; a crash before the commit leaves
  only orphans.  Readers of older versions are untouched; no window.
* **Vacuum**: delete data files referenced by no retained manifest and
  older than a retention age (the age guard keeps an in-flight writer's
  not-yet-committed files safe, same rationale as Delta's
  ``VACUUM ... RETAIN``).

At 100 TB the manifest is the scan-planning index: O(files) JSON instead
of an object-store LIST per query, and the natural place to attach
per-file min/max for manifest-level pruning (files carry row counts
here; column stats are the obvious extension).

Reference parity note: the reference never compacts — its Firehose sink
(create_qopcfdr_firehoses.py:137) emits 128 MB / 300 s objects and
Athena lists prefixes at query time.  This module is the beyond-reference
scale path for the same lake.
"""

from __future__ import annotations

import bisect
import json
import posixpath
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import _fs, _jpath, _list_files, _qualified, _read_text
from .parquet import _register_views

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_COMMIT_RETRIES = 20
# A keyed probe (``probe_snapshot``, MERGE's candidate prune) collects
# at most this many distinct keys driver-side and plans from the
# manifest's per-file [min, max].  Past it, B uniform keys saturate N
# file ranges (expected hits N*(1-(1-1/N)^B)), so pruning buys nothing:
# skip the collect and read every file, column-pruned.
PRUNE_MAX_KEYS = 100_000
# a manifest that exists but does not parse is a committer that died
# mid-write; writers may reclaim its version slot only once it is this
# old (a live writer finishes its ~KB write in milliseconds)
CORRUPT_MANIFEST_MIN_AGE_S = 60.0


def _manifest_path(path: str, version: int) -> str:
    return posixpath.join(path, _SNAP_DIR, f"v{version:012d}.json")


def _versions(spark: SparkSession, fs, path: str) -> list[int]:
    snap_dir = _jpath(spark, posixpath.join(path, _SNAP_DIR))
    if not fs.exists(snap_dir):
        return []
    out = []
    for st in fs.listStatus(snap_dir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _snapshot_head(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple:
    """``(fs, version, manifest)`` of the pinned ``version`` or, by
    default, of the head: the newest manifest that parses.  Walks down
    past unparseable trailing manifests (a committer that died
    mid-create-exclusive): readers see the last fully-committed state.
    ``(fs, None, None)`` for a not-yet-created table."""
    fs, _ = _fs(spark, path)
    if version is not None:
        return fs, version, _load_manifest(spark, fs, path, version)
    for v in reversed(_versions(spark, fs, path)):
        try:
            return fs, v, _load_manifest(spark, fs, path, v)
        except ValueError:
            continue
    return fs, None, None


def current_version(spark: SparkSession, path: str) -> int | None:
    """Latest committed version, or None for a not-yet-created table."""
    return _snapshot_head(spark, path)[1]


def _load_manifest(spark: SparkSession, fs, path: str, version: int) -> dict:
    text = _read_text(spark, fs, _manifest_path(path, version))
    return json.loads(text)  # raises ValueError on a torn half-written file


def _type_shape(t):
    """A type's json with every nullability flag and metadata stripped,
    recursively — the shape two batches must agree on.  Nullability is
    NOT part of the comparison: a stream's batches routinely disagree
    on nested nullable/containsNull (a literal-built struct is
    non-null where the parquet round-trip of the same struct is
    nullable), and Spark treats the flags as advisory on read anyway."""
    if isinstance(t, dict):
        return {
            k: _type_shape(v)
            for k, v in t.items()
            if k
            not in ("nullable", "containsNull", "valueContainsNull", "metadata")
        }
    if isinstance(t, list):
        return [_type_shape(x) for x in t]
    return t


def _merge_schemas(prev: dict | None, new: dict | None) -> dict | None:
    """Additive schema evolution at the manifest level (the Delta/Iceberg
    model: schema is TABLE metadata, so readers never pay a
    footer-per-file mergeSchema pass at plan time).

    An append may ADD columns (recorded nullable — pre-evolution files
    surface NULL for them); it may not change an existing column's type
    (silent cross-file cast hazards) — that raises.  Types are compared
    by SHAPE (see ``_type_shape``): nullability flags differing between
    batches is normal, not evolution.  The first-seen type json is what
    stays recorded, and field order is the first-seen order, so
    established readers keep their column positions."""
    if new is None:
        return prev
    if prev is None:
        return new
    by_name = {f["name"]: f for f in prev["fields"]}
    fields = [dict(f) for f in prev["fields"]]
    for f in new["fields"]:
        have = by_name.get(f["name"])
        if have is None:
            fields.append({**f, "nullable": True})
        elif _type_shape(have["type"]) != _type_shape(f["type"]):
            raise ValueError(
                f"schema evolution is additive: column {f['name']!r} "
                f"changed type {have['type']!r} -> {f['type']!r}"
            )
    return {**prev, "fields": fields}


def _read_files(
    spark: SparkSession, path: str, files: list[str], schema: dict | None
) -> DataFrame:
    """Read root-relative ``files`` under a manifest's recorded
    ``schema`` (its json; None for tables created before schemas rode
    the manifest).  The manifest's schema governs the read: files
    written before a column was added surface NULL for it, with zero
    footer reads at plan time (no mergeSchema pass)."""
    reader = spark.read
    if schema is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(*[posixpath.join(path, f) for f in files])


def _create_exclusive(spark: SparkSession, fs, path: str, text: str) -> bool:
    """Atomic put-if-absent: ``create(overwrite=False)`` throws if the
    destination exists (atomically on HDFS and local FS — no
    check-then-act window, unlike exists()+rename()).  Returns False when
    the slot was already taken."""
    try:
        stream = fs.create(_jpath(spark, path), False)
    except Exception:
        return False  # version slot already claimed
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    return True


def _reap_if_corrupt(spark: SparkSession, fs, path: str, version: int) -> None:
    """Reclaim a version slot held by a torn manifest.  Age-guarded: a
    manifest younger than CORRUPT_MANIFEST_MIN_AGE_S may simply be a live
    committer between create() and close() — wait it out instead."""
    mpath = _jpath(spark, _manifest_path(path, version))
    try:
        _load_manifest(spark, fs, path, version)
        return  # intact — a real committed manifest, leave it alone
    except ValueError:
        pass
    except Exception:
        return  # vanished or unreadable — let the caller's loop re-read
    st = fs.getFileStatus(mpath)
    age_s = time.time() - st.getModificationTime() / 1000.0
    if age_s >= CORRUPT_MANIFEST_MIN_AGE_S:
        fs.delete(mpath, False)
    else:
        time.sleep(0.05)  # writer may still be mid-write; back off, retry


def snapshot_files(
    spark: SparkSession, path: str, version: int | None = None
) -> list[str]:
    """The (root-relative) data files of a snapshot."""
    manifest = _snapshot_head(spark, path, version)[2]
    return [] if manifest is None else manifest["files"]


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Plan a read over exactly one snapshot's file list.

    The returned DataFrame is pinned: concurrent appends, compactions,
    and (retention permitting) vacuums do not change what it reads."""
    _, version, manifest = _snapshot_head(spark, path, version)
    df = None if manifest is None else _read_pinned(spark, path, manifest)
    if df is None:
        raise FileNotFoundError(f"no snapshot at {path} (version={version})")
    return df


def read_snapshot_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """``read_snapshot`` of the head, or None for a not-yet-created (or
    file-less) table — the first micro-batch of every maintenance twin."""
    manifest = _snapshot_head(spark, path)[2]
    return None if manifest is None else _read_pinned(spark, path, manifest)


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental (CDC-style) read: the rows APPENDED after
    ``from_version`` up to and including ``to_version`` (default: the
    current version), each tagged in ``_commit_version`` with the
    version of the commit that introduced it.

    This is how a downstream consumer (a training job, an index
    maintainer) follows the table without rescanning it: the plan reads
    ONLY the data files the append commits in the window introduced —
    O(delta), never O(table).  Because data files are immutable and a
    manifest is an exact file list, "files in v but not in v-1" IS the
    rows committed at v; no diff of row contents is ever computed.

    Version kinds inside the window:

    * **append** — contributes its added files, tagged with its version.
    * **compaction** (``compacted_from`` in the manifest) — rewrites
      existing rows into fewer files and adds none; contributes nothing,
      and the file baseline resets to its output so the NEXT append
      diffs against the compacted list.
    * **plain overwrite** — replaces the table; "changes since" has no
      append-grain meaning across it, so this raises ``ValueError`` and
      the caller re-baselines (re-reads the full snapshot and resumes
      from the overwrite version).  This mirrors the ANN drift-rebuild
      protocol, where consumers re-sync after a retrain overwrite.

    ``from_version=0`` means "since table creation".  A window whose
    appends were all vacuumed away fails at read time (retention
    governs how far back consumers may lag).  An empty window returns
    an empty DataFrame with the table's schema plus ``_commit_version``.
    """
    fs, _ = _fs(spark, path)
    if to_version is None:
        to_version = current_version(spark, path)
        if to_version is None:
            raise FileNotFoundError(f"no snapshot at {path}")
    if not 0 <= from_version <= to_version:
        raise ValueError(
            f"need 0 <= from_version <= to_version, got "
            f"{from_version}..{to_version}"
        )
    prev: set[str] = (
        set(_load_manifest(spark, fs, path, from_version)["files"])
        if from_version > 0
        else set()
    )
    added: list[DataFrame] = []
    for v in range(from_version + 1, to_version + 1):
        m = _load_manifest(spark, fs, path, v)
        if "compacted_from" in m:
            prev = set(m["files"])
            continue
        if "deleted_from" in m:
            raise ValueError(
                f"{path} v{v} deleted rows ({m.get('predicate')!r}); an "
                f"append-grain change feed cannot express removals — "
                f"re-baseline from v{v}"
            )
        if "merged_from" in m:
            raise ValueError(
                f"{path} v{v} upserted rows (merge on "
                f"{m.get('merge_key')!r}); an append-grain change feed "
                f"cannot express updates — re-baseline from v{v}"
            )
        if m["mode"] != "append":
            raise ValueError(
                f"{path} v{v} is a full overwrite; incremental reads "
                f"across it are undefined — re-baseline from v{v}"
            )
        new = [f for f in m["files"] if f not in prev]
        prev = set(m["files"])
        if new:
            added.append(
                _read_files(spark, path, new, m.get("schema")).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
    if not added:
        base = read_snapshot(spark, path, to_version).limit(0)
        return base.withColumn("_commit_version", F.lit(None).cast("long"))
    # schema evolution inside the window: pre-evolution versions surface
    # NULL for later-added columns
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), added
    )


def _distinct_keys(keys_df: DataFrame) -> list | None:
    """The distinct non-null values of ``keys_df``'s one column, or None
    past ``PRUNE_MAX_KEYS`` — one bounded collect job.
    NULL keys are dropped because every consumer matches with SQL
    equality, where NULL never matches a row."""
    col = F.col(keys_df.columns[0])
    rows = (
        keys_df.filter(col.isNotNull())
        .distinct()
        .limit(PRUNE_MAX_KEYS + 1)
        .collect()
    )
    return None if len(rows) > PRUNE_MAX_KEYS else [r[0] for r in rows]


def _overlapping(files: list[str], stats: dict, keys) -> list[str]:
    """The ``files`` whose recorded [min, max] on the cluster column could
    hold one of ``keys`` — manifest-level data skipping, no data read.

    Files without stats are always kept (older unclustered appends stay
    correct), and so are files with an all-NULL cluster column (bisect
    cannot order None against real keys).  None keys are dropped
    because every consumer probes with SQL equality, where NULL never
    matches any row — NOT because NULL-keyed rows only live in
    None-bounded files (a mixed file holding NULL and non-NULL keys
    records a non-null [min,max], since min/max skip NULLs).  A future
    null-safe (<=>) consumer must NOT rely on pruning to surface
    NULL-keyed rows."""
    ks = sorted(k for k in set(keys) if k is not None)
    keep = []
    for f in files:
        rng = stats.get(f)
        if rng is None or rng[0] is None or rng[1] is None:
            keep.append(f)
            continue
        i = bisect.bisect_left(ks, rng[0])
        if i < len(ks) and ks[i] <= rng[1]:
            keep.append(f)
    return keep


def _read_pinned(
    spark: SparkSession, path: str, manifest: dict, keys=None
) -> DataFrame | None:
    """Read a loaded manifest's files — only those that can hold one of
    ``keys`` when given (``_overlapping``) — or None when no file is
    left to read."""
    files = manifest["files"]
    if keys is not None:
        files = _overlapping(files, manifest.get("stats", {}), keys)
    return _read_files(spark, path, files, manifest.get("schema")) if files else None


def _hit_files(
    spark: SparkSession, path: str, manifest: dict, candidates: list[str],
    match,
) -> list[str]:
    """The manifest files holding at least one row that ``match``
    (DataFrame -> DataFrame: a filter or a semi-join) keeps, found by
    one column-pruned scan of ``candidates``.

    Each row's source file is pinned AT SCAN TIME as ``_src_file`` from
    the scan's ``_metadata.file_path`` attribute: ``input_file_name()``
    evaluates on post-exchange rows after a shuffled join and returns
    '', and, being nondeterministic, it would also block the filter's
    parquet pushdown (row-group stats make non-matching candidates
    footer-cheap).  The distinct hit URIs collect to the driver —
    bounded by the manifest's file count — and map back to the
    manifest's root-relative data/<token>/part-*.parquet paths, unique
    as suffixes."""
    if not candidates:
        return []
    scan = _read_files(
        spark, path, candidates, manifest.get("schema")
    ).select("*", F.col("_metadata.file_path").alias("_src_file"))
    uris = [
        r._src_file
        for r in match(scan).select("_src_file").distinct().collect()
    ]
    return [f for f in manifest["files"] if any(u.endswith(f) for u in uris)]


def _rewrite(
    spark: SparkSession,
    path: str,
    derive,
    *,
    txn_app: str | None = None,
    txn_version: int | None = None,
) -> int | None:
    """The one fenced copy-on-write rewrite behind MERGE, DELETE and
    compaction; returns the committed version, or None when nothing
    was committed.

    ``derive(fs, version, manifest)`` plans against the head manifest
    and returns None (nothing to commit) or ``(replaced, frame, meta,
    schema, n_files)``: the manifest files the rewrite replaces, the
    frame staged in their place (through ``_stage_files``, clustered
    on the table's cluster column, ``n_files`` files when non-zero),
    the manifest meta, and the schema the new version records.  Every
    file not replaced rides into the new manifest untouched — its data
    and its stats.

    The commit is fenced on the version the plan was derived from
    (``_commit``'s ``expected_prev``): blindly taking the next slot
    after a concurrent commit would silently drop that commit's rows.
    On ``SnapshotConflictError`` the whole plan is re-derived against
    the new head, up to 3 times.  ``txn_app``/``txn_version`` give the
    rewrite ``write_snapshot``'s exactly-once fence."""
    for retries_left in range(3, -1, -1):
        fs, version, manifest = _snapshot_head(spark, path)
        if version is None:
            raise FileNotFoundError(f"no snapshot at {path}")
        if txn_app is not None and int(
            manifest.get("txn", {}).get(txn_app, -1)
        ) >= int(txn_version):
            return None  # cheap pre-check; _commit re-checks under the race
        plan = derive(fs, version, manifest)
        if plan is None:
            return None
        replaced, frame, meta, schema, n_files = plan
        cluster_col = manifest.get("cluster_col")
        new_files, new_stats = _stage_files(
            spark, fs, frame, path, cluster_col, n_files
        )
        gone = set(replaced)
        try:
            return _commit(
                spark,
                fs,
                path,
                [f for f in manifest["files"] if f not in gone] + new_files,
                mode="overwrite",
                meta=meta,
                txn_app=txn_app,
                txn_version=txn_version,
                # _commit keeps only the stats of the files it commits
                stats={**manifest.get("stats", {}), **new_stats},
                cluster_col=cluster_col,
                schema=schema,
                expected_prev=version,
            )
        except SnapshotConflictError:
            if not retries_left:
                raise


def merge_into_snapshot(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str | list[str],
    *,
    txn_app: str | None = None,
    txn_version: int | None = None,
    delete_col: str | None = None,
) -> int | None:
    """MERGE (upsert) ``source`` into a snapshot table by ``key``:
    target rows whose key appears in the source are REPLACED by the
    source row, source rows with no target match are INSERTED — one
    atomic new version, the Delta ``MERGE INTO`` / Hudi upsert verb.

    ``delete_col`` names a boolean column marking TOMBSTONES — the
    CDC-apply form (replaying an upstream database's change stream:
    upserts and deletes arrive interleaved in one batch).  A tombstone
    row's key participates in matching like any other (its matched
    target rows are removed via the same file-grain rewrite) but the
    row itself is NOT inserted, and the marker column never enters the
    table.  A tombstone for a key the table doesn't hold is a no-op,
    as in SQL DELETE.

    Copy-on-write at FILE grain (``_rewrite``): only files holding a
    matched key are rewritten (their unmatched rows survive alongside
    the full source); every other file rides into the new manifest
    untouched.  When the table is CLUSTERED on the merge key and the
    source's distinct keys fit under ``PRUNE_MAX_KEYS``, candidate
    files are pruned manifest-level against the per-file [min, max]
    BEFORE any data is read — a trickle upsert into a doc_id-clustered
    corpus opens ~batch-sized file counts, not the table.

    The source must be key-unique (duplicate source keys make the
    result order-dependent; that raises).  Duplicate TARGET keys are
    legal and all their rows are replaced by the one source row —
    merge is therefore also the key-dedup repair verb.  Source columns
    may extend the table's schema (additive evolution, as with
    appends).  ``txn_app``/``txn_version`` give streamed upserts the
    same exactly-once fence as ``write_snapshot``.

    ``snapshot_changes`` refuses to cross a merge commit (updates have
    no append-grain form); consumers re-baseline."""
    keys = [key] if isinstance(key, str) else list(key)
    if delete_col is not None and delete_col in keys:
        raise ValueError(f"delete_col {delete_col!r} cannot be a merge key")
    if txn_app is not None and txn_version is None:
        raise ValueError("txn_app requires txn_version")
    live = source
    if delete_col is not None:
        # tombstones match (and thereby delete) but are never inserted,
        # and the marker column never enters the table
        live = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)

    def derive(fs, version, manifest):
        if (
            source.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        ):
            raise ValueError(
                f"merge source has duplicate keys on {keys}; the result "
                f"would be order-dependent"
            )
        schema = manifest.get("schema")
        candidates = manifest["files"]
        small = None  # the source's keys, only when the collect BOUNDED them
        if keys == [manifest.get("cluster_col")] and manifest.get("stats"):
            small = _distinct_keys(source.select(*keys))
            if small is not None:
                candidates = _overlapping(candidates, manifest["stats"], small)
        # src_keys is a DERIVED table: Catalyst's post-distinct size
        # estimate can be far off, and a misestimated plan-time broadcast
        # of a bulk source OOMs (the LM count-join lesson).  Broadcast
        # ONLY when the prune-collect has PROVEN the key set small;
        # otherwise ride a spillable shuffled join
        src_keys = source.select(*keys).distinct()
        src_keys = (
            F.broadcast(src_keys)
            if small is not None
            else src_keys.hint("shuffle_hash")
        )
        hit = _hit_files(
            spark, path, manifest, candidates,
            lambda scan: scan.join(src_keys, keys, "left_semi"),
        )
        staged = live  # pure insert unless a file holds a matched key
        if hit:
            staged = (
                _read_files(spark, path, hit, schema)
                .join(src_keys, keys, "left_anti")
                .unionByName(live, allowMissingColumns=True)
            )
        merged_schema = (
            _merge_schemas(schema, live.schema.jsonValue())
            if schema is not None
            else None  # pre-schema tables stay legacy (see _commit)
        )
        meta = {"merged_from": version, "merge_key": keys}
        return hit, staged, meta, merged_schema, 0

    return _rewrite(
        spark, path, derive, txn_app=txn_app, txn_version=txn_version
    )


def delete_from_snapshot(
    spark: SparkSession,
    path: str,
    predicate: str,
    cluster_range: tuple | None = None,
) -> int | None:
    """Row-level delete (the right-to-be-forgotten path): commit a new
    version with every row matching ``predicate`` removed, rewriting
    ONLY the files that hold matching rows — copy-on-write at file
    grain (``_rewrite``), the Delta/Iceberg DELETE strategy.

    Plan: (1) candidate files — all of them, unless the table is
    clustered and ``cluster_range=(lo, hi)`` bounds the predicate on
    the cluster column, in which case the manifest's per-file [min,
    max] prunes candidates WITHOUT touching data (a doc_id-range
    takedown on a doc_id-clustered corpus opens only the overlapping
    files); (2) one column-pruned scan of the candidates finds the
    files with >= 1 match (parquet row-group stats make non-matching
    candidates footer-cheap); (3) matching files are rewritten with
    only their surviving rows, non-matching files are carried into the
    new manifest UNTOUCHED — their data, their stats.  A predicate
    matching nothing commits nothing and returns None.

    Delete semantics are SQL DELETE's: a row is removed iff the
    predicate is TRUE; FALSE and NULL rows survive.

    Older versions still see the deleted rows until ``vacuum_snapshots``
    reaps them — retention is the compliance clock, exactly Delta's
    ``VACUUM`` contract.  ``snapshot_changes`` refuses to cross a
    delete commit (removals have no append-grain representation);
    consumers re-baseline, as with overwrites.

    ``predicate`` is a SQL expression string, so the operation is
    oracle-replayable verbatim on any engine."""
    pred = F.expr(predicate)

    def derive(fs, version, manifest):
        stats = manifest.get("stats", {})
        candidates = manifest["files"]
        if cluster_range is not None and manifest.get("cluster_col") and stats:
            lo, hi = cluster_range
            candidates = [
                f
                for f in candidates
                if (rng := stats.get(f)) is None
                or rng[0] is None
                or rng[1] is None
                or (rng[0] <= hi and lo <= rng[1])
            ]
        hit = _hit_files(
            spark, path, manifest, candidates, lambda scan: scan.filter(pred)
        )
        if not hit:
            return None
        survivors = _read_files(
            spark, path, hit, manifest.get("schema")
        ).filter(~F.coalesce(pred, F.lit(False)))
        meta = {"deleted_from": version, "predicate": predicate}
        return hit, survivors, meta, manifest.get("schema"), 0

    return _rewrite(spark, path, derive)


def _footer_cluster_stats(
    files: list[tuple[str, str]], cluster_col: str
) -> dict | None:
    """Per-file ``[min, max]`` for ``cluster_col`` read from the parquet
    FOOTERS — no data pages touched.  ``files`` is (rel, absolute-uri)
    pairs; returns {rel: [lo, hi]} or ``None`` when any file's stats are
    unusable (non-local scheme, stats disabled, undecodable binary), in
    which case the caller falls back to the column-pruned scan.

    Parquet row-group stats skip NULLs exactly like SQL min/max, so an
    all-NULL file records [None, None] — byte-identical to the scan
    path.  Caveat carried from the scan path unchanged: string bounds
    compare byte-wise in parquet vs code-point-wise in the Python
    bisect consumer; identical for ASCII keys (the only string cluster
    keys in use: md5 hex)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    out: dict = {}
    for rel, uri in files:
        local = uri
        if local.startswith("file:"):
            local = local[len("file:"):]
            while local.startswith("//"):
                local = local[1:]
        elif "://" in local:
            return None  # non-local scheme: footer access needs the fs
        try:
            md = pq.ParquetFile(local).metadata
        except Exception:
            return None
        lo = hi = None
        seen_values = False
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            col = None
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == cluster_col:
                    col = c
                    break
            if col is None:
                return None  # column absent: schema drift, let the scan decide
            st = col.statistics
            if st is None:
                return None  # stats disabled at write time
            if not st.has_min_max:
                # legitimately empty bounds only when the group is all
                # NULL; pyarrow's num_values is the NON-NULL count, so
                # any non-zero value here means the writer dropped the
                # bounds of real values (e.g. oversized binaries) —
                # unusable, fall back to the scan
                if st.num_values:
                    return None
                continue
            gmin, gmax = st.min, st.max
            if isinstance(gmin, bytes) or isinstance(gmax, bytes):
                try:
                    gmin = gmin.decode("utf-8")
                    gmax = gmax.decode("utf-8")
                except (UnicodeDecodeError, AttributeError):
                    return None
            seen_values = True
            lo = gmin if lo is None or gmin < lo else lo
            hi = gmax if hi is None or gmax > hi else hi
        out[rel] = [lo, hi] if seen_values else [None, None]
    return out


def _stage_files(
    spark: SparkSession, fs, df: DataFrame, path: str,
    cluster_col: str | None = None,
    n_files: int = 0,
) -> tuple[list[str], dict]:
    """Write ``df`` into a fresh data/<token>/ dir; return (relative
    paths, per-file stats).

    With ``cluster_col`` the staged files are range-partitioned and
    sorted by that column (``sinks/layout.write_clustered``'s layout at
    snapshot granularity) and each file's [min, max] on it is recorded —
    the manifest-level pruning index ``read_snapshot_pruned`` plans
    from.  A non-zero ``n_files`` repartitions ``df`` into that many
    files first (by range when clustered)."""
    token = uuid.uuid4().hex[:12]
    out_dir = posixpath.join(path, _DATA_DIR, token)
    if cluster_col is not None:
        parted = (
            df.repartitionByRange(n_files, cluster_col)
            if n_files
            else df.repartitionByRange(cluster_col)
        )
        parted.sortWithinPartitions(cluster_col).write.parquet(out_dir)
    else:
        (df.repartition(n_files) if n_files else df).write.parquet(out_dir)
    prefix = _qualified(spark, fs, path).rstrip("/") + "/"
    rels = []
    for f in _list_files(spark, fs, out_dir):
        if not f.startswith(prefix):
            raise IOError(f"staged file {f} outside table root {prefix}")
        rel = f[len(prefix):]
        if not rel.rsplit("/", 1)[-1].startswith("_"):
            rels.append(rel)
    stats: dict = {}
    if cluster_col is not None and rels:
        # parquet footers already hold per-column min/max — read THEM
        # instead of re-scanning every staged byte (at streaming cadence
        # the old second scan was one extra pass over everything
        # written, forever)
        footer = _footer_cluster_stats(
            [(rel, prefix + rel) for rel in rels], cluster_col
        )
        if footer is not None:
            stats = footer
        else:
            rows = (
                spark.read.parquet(out_dir)
                .select(
                    F.input_file_name().alias("_f"),
                    F.col(cluster_col).alias("_k"),
                )
                .groupBy("_f")
                .agg(F.min("_k").alias("lo"), F.max("_k").alias("hi"))
                .collect()
            )
            by_suffix = {rel.rsplit("/", 1)[-1]: rel for rel in rels}
            for r in rows:
                rel = by_suffix.get(r["_f"].rsplit("/", 1)[-1])
                if rel is not None:
                    stats[rel] = [r["lo"], r["hi"]]
    return rels, stats


def last_txn_version(spark: SparkSession, path: str, txn_app: str) -> int:
    """The highest transaction version ``txn_app`` has committed to this
    table, or -1.  Manifests carry the per-writer high-water-mark map
    forward on every commit (Delta's ``txn`` action), so one manifest
    read answers the idempotence question on micro-batch replay."""
    manifest = _snapshot_head(spark, path)[2]
    if manifest is None:
        return -1
    return int(manifest.get("txn", {}).get(txn_app, -1))


class SnapshotConflictError(Exception):
    """A read-modify-write commit found the table advanced past the
    version it derived its output from; the caller must re-derive
    against the new head (Delta's concurrent-modification model)."""


def _commit(
    spark: SparkSession,
    fs,
    path: str,
    new_files: list[str],
    *,
    mode: str,
    meta: dict | None = None,
    txn_app: str | None = None,
    txn_version: int | None = None,
    stats: dict | None = None,
    cluster_col: str | None = None,
    schema: dict | None = None,
    expected_prev: int | None = None,
) -> int | None:
    """Optimistically commit a new manifest; retry on version conflicts.

    Each attempt re-reads the latest version so a lost race against a
    concurrent append still produces the correct merged file list.

    ``expected_prev`` is the conflict fence for READ-MODIFY-WRITE
    commits (compaction, DELETE, MERGE): their output file list was
    derived from a specific version, so blindly taking the next slot
    after a concurrent append would silently DROP that append's rows
    from the table.  When the head has moved past ``expected_prev``,
    the commit raises ``SnapshotConflictError`` instead, and the
    caller re-derives from the new head.  Plain appends never need it:
    their merge-with-latest retry is already correct.

    With ``txn_app``/``txn_version`` the commit is IDEMPOTENT per writer:
    each manifest carries forward a ``txn`` map of per-writer high-water
    marks, and an attempt whose version is <= the recorded mark returns
    None without committing (the skip-check re-runs inside the retry loop,
    so it holds under commit races too).  This is what makes a replayed
    foreachBatch micro-batch exactly-once: the crash either happened
    before the manifest commit (staged files are unreferenced orphans —
    vacuum reaps them) or after (the replay skips here)."""
    snap_dir = posixpath.join(path, _SNAP_DIR)
    fs.mkdirs(_jpath(spark, snap_dir))
    for _ in range(_COMMIT_RETRIES):
        vs = _versions(spark, fs, path)
        prev = vs[-1] if vs else None
        if expected_prev is not None and (prev or 0) != expected_prev:
            raise SnapshotConflictError(
                f"{path}: derived from v{expected_prev} but head is "
                f"v{prev or 0}; re-derive against the new head"
            )
        prev_txn: dict = {}
        if prev is not None:
            try:
                prev_manifest = _load_manifest(spark, fs, path, prev)
            except ValueError:
                # torn manifest at the head: reap (age-guarded) and retry
                _reap_if_corrupt(spark, fs, path, prev)
                continue
            prev_txn = dict(prev_manifest.get("txn", {}))
            base = prev_manifest["files"] if mode == "append" else []
        else:
            base = []
        if txn_app is not None:
            if int(prev_txn.get(txn_app, -1)) >= int(txn_version or 0):
                return None  # this writer already committed this version
            prev_txn[txn_app] = int(txn_version or 0)
        version = (prev or 0) + 1
        # per-file [min, max] stats on the cluster column ride the
        # manifest forward: appends merge, overwrites reset; stats for
        # files no longer referenced are dropped with them
        prev_stats = (
            dict(prev_manifest.get("stats", {}))
            if prev is not None and mode == "append"
            else {}
        )
        prev_stats.update(stats or {})
        all_files = base + new_files
        live = set(all_files)
        merged_stats = {f: s for f, s in prev_stats.items() if f in live}
        prev_cluster = (
            prev_manifest.get("cluster_col")
            if prev is not None and mode == "append"
            else None
        )
        # schema rides the manifest (merged additively on append; reset
        # on overwrite, which replaces every file).  A pre-schema table
        # never starts recording one via APPEND: its old files' extra
        # columns would silently vanish under an explicit-schema read
        if mode == "append" and prev is not None:
            new_schema = (
                None
                if prev_manifest.get("schema") is None
                else _merge_schemas(prev_manifest.get("schema"), schema)
            )
        else:
            new_schema = schema
        manifest = {
            "version": version,
            "mode": mode,
            "files": all_files,
            "committed_at": time.time(),
            "txn": prev_txn,
            **({"stats": merged_stats} if merged_stats else {}),
            **(
                {"cluster_col": cluster_col or prev_cluster}
                if (cluster_col or prev_cluster)
                else {}
            ),
            **({"schema": new_schema} if new_schema is not None else {}),
            **(meta or {}),
        }
        final = _manifest_path(path, version)
        # put-if-absent: create-exclusive throws atomically if the
        # version slot exists (HDFS + local FS; see module docstring)
        if _create_exclusive(spark, fs, final, json.dumps(manifest)):
            return version
        # lost the race; if the winner died mid-write its slot is torn —
        # reap it (age-guarded) so the table cannot wedge at this version
        _reap_if_corrupt(spark, fs, path, version)
    raise IOError(f"snapshot commit failed after {_COMMIT_RETRIES} attempts")


def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "append",
    *,
    txn_app: str | None = None,
    txn_version: int | None = None,
    cluster_col: str | None = None,
) -> int | None:
    """Append or overwrite ``df`` as a new table version; returns it.

    ``txn_app``/``txn_version`` make the write idempotent per writer (see
    ``_commit``); an already-committed version returns None without
    staging or committing anything.

    ``cluster_col`` stages the files range-partitioned + sorted by that
    column and records per-file [min, max] in the manifest — the layout
    ``read_snapshot_pruned`` prunes against (the streaming dedup
    indexes' probe path).

    The DataFrame's schema rides the manifest, and appends may evolve it
    ADDITIVELY: new columns are recorded nullable, and readers of any
    version see that version's schema — pre-evolution files surface
    NULL for later-added columns, with no footer-merge pass at plan
    time.  Changing an existing column's type raises (see
    ``_merge_schemas``)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn_app is not None and txn_version is None:
        raise ValueError("txn_app requires txn_version")
    fs, _ = _fs(spark, path)
    if txn_app is not None and last_txn_version(spark, path, txn_app) >= int(
        txn_version or 0
    ):
        return None  # cheap pre-check; _commit re-checks under the race
    new_files, stats = _stage_files(spark, fs, df, path, cluster_col)
    return _commit(
        spark, fs, path, new_files, mode=mode,
        txn_app=txn_app, txn_version=txn_version,
        stats=stats, cluster_col=cluster_col,
        schema=df.schema.jsonValue(),
    )


def read_snapshot_pruned(
    spark: SparkSession,
    path: str,
    keys,
    version: int | None = None,
) -> DataFrame | None:
    """Plan a read over ONLY the snapshot files whose recorded
    [min, max] range on the cluster column could contain one of
    ``keys`` — manifest-level data skipping for point-membership probes
    (the streaming window-hash / band index pattern: a micro-batch's
    keys against a corpus-sized index).

    Files without recorded stats are always read (older unclustered
    appends stay correct; see ``_overlapping``).  Returns None when no
    file can match or the table does not exist.  Pruning power is
    regime-dependent and honest: with B distinct uniform keys against N
    file ranges the expected hit count is N*(1-(1-1/N)^B) — a trickle
    batch (B << N) reads ~B files; a bulk batch saturates the ranges and
    degrades to the full (column-pruned, embarrassingly parallel) scan
    the module always paid."""
    manifest = _snapshot_head(spark, path, version)[2]
    return None if manifest is None else _read_pinned(spark, path, manifest, keys)


def probe_snapshot(
    spark: SparkSession, path: str, keys_df: DataFrame
) -> DataFrame | None:
    """The keyed probe every maintenance twin runs against its
    corpus-sized index: the snapshot rows that could match the distinct
    non-null values of ``keys_df``'s one column.

    Returns None for a not-yet-created table or when there is no key.
    Up to ``PRUNE_MAX_KEYS`` keys collect driver-side in one bounded job
    (they ship there for the batch side's broadcast join anyway) and
    the read plans from the manifest's per-file [min, max]
    (``read_snapshot_pruned``); past the cap the collect is skipped and
    the whole pinned snapshot is read, column-pruned.  Pruning is a
    read optimization only: both regimes match the same rows."""
    manifest = _snapshot_head(spark, path)[2]
    if manifest is None:
        return None
    keys = _distinct_keys(keys_df)  # None: past the cap, read every file
    return None if keys == [] else _read_pinned(spark, path, manifest, keys)


def compact_snapshot(
    spark: SparkSession,
    path: str,
    *,
    target_files: int = 0,
    transform=None,
) -> int:
    """Rewrite the current snapshot into ~``target_files`` larger files
    and commit the result as a new version (``_rewrite`` with every file
    replaced).  No reader is disturbed: in-flight queries keep their
    pinned file list, and time travel to pre-compaction versions still
    works until vacuum.

    ``target_files=0`` sizes the output from the snapshot's total bytes
    at 128 MB per file (the reference Firehose buffer ceiling).

    ``transform`` (DataFrame -> DataFrame) is applied to the unioned
    read before restaging — MERGE-ON-READ compaction for tables whose
    rows are partial-aggregate deltas (the streamed LM's n-gram count
    tables fold duplicates with a groupBy-sum here).  The transform
    must be a pure fold: idempotent on already-folded data, preserving
    the readers' merge semantics, or readers of pre- and post-compaction
    versions would disagree.

    A clustered table compacts CLUSTERED: per-batch appends each cover
    the whole key range, so compaction is precisely when the ranges
    become disjoint again (and the pruning index tightens)."""

    def derive(fs, version, manifest):
        files = manifest["files"]
        n_files = target_files
        if n_files <= 0:
            total = sum(
                fs.getFileStatus(
                    _jpath(spark, posixpath.join(path, f))
                ).getLen()
                for f in files
            )
            n_files = max(1, -(-total // (128 * 1024 * 1024)))
        schema = manifest.get("schema")
        df = _read_files(spark, path, files, schema)
        if transform is not None:
            df = transform(df)
        if schema is not None:
            schema = df.schema.jsonValue()
        return files, df, {"compacted_from": version}, schema, n_files

    return _rewrite(spark, path, derive)


def register_snapshot_tables(spark: SparkSession, base_path: str) -> list[str]:
    """S9/S10 parity for snapshot-committed lakes: register every OCSF
    snapshot table as a temp view plus the cross-class ``ocsf_all`` union
    view — the same query surface ``sinks/parquet.register_ocsf_tables``
    provides for directory tables, but planned from manifests (each view
    is a pinned snapshot: re-register to see later versions)."""
    return _register_views(
        lambda key: read_snapshot_or_none(
            spark, posixpath.join(base_path, key)
        )
    )


def vacuum_snapshots(
    spark: SparkSession,
    path: str,
    *,
    keep_last: int = 2,
    min_age_seconds: float = 3600.0,
) -> dict:
    """Garbage-collect manifests and data files.

    Keeps the last ``keep_last`` manifests; deletes data files referenced
    by none of them AND older (by FS modification time) than
    ``min_age_seconds``.  The age guard is what makes vacuum safe to run
    next to live writers: a writer's freshly staged — but not yet
    committed — files are unreferenced, and only their age protects them
    (Delta's ``VACUUM RETAIN`` rationale)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, _ = _fs(spark, path)
    vs = _versions(spark, fs, path)
    if not vs:
        return {"manifests_deleted": 0, "files_deleted": 0}
    keep, drop = vs[-keep_last:], vs[:-keep_last]
    referenced = set()
    for v in keep:
        referenced.update(_load_manifest(spark, fs, path, v)["files"])

    prefix = _qualified(spark, fs, path).rstrip("/") + "/"
    now_ms = time.time() * 1000.0
    files_deleted = 0
    data_root = posixpath.join(path, _DATA_DIR)
    if fs.exists(_jpath(spark, data_root)):
        it = fs.listFiles(_jpath(spark, data_root), True)
        doomed = []
        while it.hasNext():
            st = it.next()
            if not st.isFile():
                continue
            # _SUCCESS-style markers are never manifest-referenced; they
            # are swept with their dir below, not counted as data files
            if st.getPath().getName().startswith("_"):
                continue
            rel = st.getPath().toString()[len(prefix):]
            age_s = (now_ms - st.getModificationTime()) / 1000.0
            if rel not in referenced and age_s >= min_age_seconds:
                doomed.append(st.getPath())
        for p in doomed:
            fs.delete(p, False)
            files_deleted += 1
        # drop any write dir holding no data files anymore (markers only)
        for st in fs.listStatus(_jpath(spark, data_root)):
            if not st.isDirectory():
                continue
            kids = fs.listStatus(st.getPath())
            if all(k.getPath().getName().startswith("_") for k in kids):
                fs.delete(st.getPath(), True)
    for v in drop:
        fs.delete(_jpath(spark, _manifest_path(path, v)), False)
    return {"manifests_deleted": len(drop), "files_deleted": files_deleted}


def snapshot_fsck(
    spark: SparkSession, path: str, *, strict: bool = False
) -> dict:
    """Integrity audit (fsck) for a snapshot table — the operational
    check a fleet runs before trusting a table after an incident
    (interrupted writers, partial restores, manual file surgery).

    Checks, cheapest first, all metadata-only except the footer pass:

    * **manifests** — every version slot parses; torn (half-written)
      manifests are reported (they are reaped by writers, skipped by
      readers — a torn HEAD means the last commit died mid-write).
    * **files** — every file the current manifest references exists
      and is non-empty; a missing referenced file is data loss
      (vacuum'd too aggressively, or external deletion).
    * **txn monotonicity** — per-writer high-water marks never move
      backwards across kept versions (a regression means manifest
      tampering or a restore mixing table generations).
    * **stats vs footers** — for a clustered table, each referenced
      file's recorded [min, max] is re-derived from its parquet FOOTER
      (no data pages read) and must match exactly: wrong stats make
      pruned reads silently DROP rows, the worst failure mode this
      module can have.
    * **orphans** — data files referenced by no kept manifest: normal
      churn awaiting vacuum (crashed writers, superseded versions),
      reported with their total bytes so retention policy has a number.

    Returns a report dict; ``strict=True`` raises ``IOError`` on any
    integrity error (torn head, missing file, stats mismatch, txn
    regression).  Orphans are never an error — they are vacuum's job."""
    fs, _ = _fs(spark, path)
    report: dict = {
        "versions": [],
        "torn_manifests": [],
        "missing_files": [],
        "empty_files": [],
        "stats_mismatches": [],
        "txn_regressions": [],
        "orphan_files": 0,
        "orphan_bytes": 0,
    }
    manifests: dict[int, dict] = {}
    for v in _versions(spark, fs, path):
        try:
            manifests[v] = _load_manifest(spark, fs, path, v)
            report["versions"].append(v)
        except ValueError:
            report["torn_manifests"].append(v)
    if not manifests:
        report["errors"] = ["no readable manifest"]
        if strict:
            raise IOError(f"fsck {path}: no readable manifest")
        return report
    head = max(manifests)
    current = manifests[head]
    prefix = _qualified(spark, fs, path).rstrip("/") + "/"

    referenced_all: set[str] = set()
    for m in manifests.values():
        referenced_all.update(m["files"])
    for f in current["files"]:
        p = _jpath(spark, posixpath.join(path, f))
        if not fs.exists(p):
            report["missing_files"].append(f)
        elif fs.getFileStatus(p).getLen() == 0:
            report["empty_files"].append(f)

    marks: dict[str, int] = {}
    for v in sorted(manifests):
        for app, mark in manifests[v].get("txn", {}).items():
            if int(mark) < marks.get(app, -1):
                report["txn_regressions"].append(
                    {"version": v, "app": app, "mark": int(mark),
                     "prev": marks[app]}
                )
            marks[app] = max(marks.get(app, -1), int(mark))

    cluster_col = current.get("cluster_col")
    stats = current.get("stats", {})
    if cluster_col and stats:
        live = [
            (f, prefix + f)
            for f in current["files"]
            if f in stats and f not in set(report["missing_files"])
        ]
        footer = _footer_cluster_stats(live, cluster_col)
        if footer is not None:
            for f, rng in footer.items():
                if list(stats[f]) != list(rng):
                    report["stats_mismatches"].append(
                        {"file": f, "manifest": stats[f], "footer": rng}
                    )

    data_root = posixpath.join(path, _DATA_DIR)
    if fs.exists(_jpath(spark, data_root)):
        it = fs.listFiles(_jpath(spark, data_root), True)
        while it.hasNext():
            st = it.next()
            if not st.isFile() or st.getPath().getName().startswith("_"):
                continue
            rel = st.getPath().toString()[len(prefix):]
            if rel not in referenced_all:
                report["orphan_files"] += 1
                report["orphan_bytes"] += st.getLen()

    errors = []
    if report["torn_manifests"] and max(report["torn_manifests"]) > head:
        errors.append(f"torn manifest at head v{max(report['torn_manifests'])}")
    for key in ("missing_files", "empty_files", "stats_mismatches",
                "txn_regressions"):
        if report[key]:
            errors.append(f"{len(report[key])} {key}")
    report["errors"] = errors
    if strict and errors:
        raise IOError(f"fsck {path}: " + "; ".join(errors))
    return report
