"""Hadoop FileSystem helpers shared by the snapshot tables and the
streaming maintainers: path resolution, qualified URIs, recursive
listing, and small text/JSON files next to a table root.  Everything
goes through the Hadoop FS API, so the same code runs on the local FS,
HDFS and s3a://."""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _qualified(spark: SparkSession, fs, path: str) -> str:
    """Fully-qualified URI string (scheme + authority) for ``path`` on
    ``fs``.  ALL path strings that get compared or stored in a manifest
    must be qualified: ``toUri().getPath()`` strips the scheme, so on
    s3a:///hdfs:// a prefix match against the raw base_path silently
    fails and paths resolve against the wrong filesystem."""
    return fs.makeQualified(_jpath(spark, path)).toString()


def _list_files(spark: SparkSession, fs, root: str) -> list[str]:
    """Recursive file listing under root (staging only — small).
    Returns fully-qualified URI strings."""
    out: list[str] = []
    it = fs.listFiles(_jpath(spark, root), True)
    while it.hasNext():
        st = it.next()
        if st.isFile():
            out.append(st.getPath().toString())
    return out


def _write_text(spark: SparkSession, fs, path: str, text: str) -> None:
    stream = fs.create(_jpath(spark, path), True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _read_text(spark: SparkSession, fs, path: str) -> str:
    # NB: py4j passes byte[] by value, so stream.read(buf) cannot fill a
    # Python bytearray — route through IOUtils.toString instead
    stream = fs.open(_jpath(spark, path))
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def json_meta_io(spark: SparkSession, root: str, filename: str):
    """(read, write) closures for a JSON model-state file next to a
    table root — the shared helper behind the streaming maintainers'
    ``_meta_io`` (annmaint/tripletmaint).  ``read`` returns None when
    the file is missing or unreadable (callers treat that as
    first-batch: retrain deterministic model state)."""
    import json

    fs, _ = _fs(spark, root)
    meta_path = posixpath.join(root, filename)

    def read() -> dict | None:
        try:
            return json.loads(_read_text(spark, fs, meta_path))
        except Exception:
            return None

    def write(meta: dict) -> None:
        _write_text(spark, fs, meta_path, json.dumps(meta))

    return read, write
