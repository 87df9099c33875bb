"""Filesystem operations for mart maintenance, routed through the
Hadoop FileSystem API.

Why this module exists: the maintenance operators (``merge_upsert``'s
staging swap, ``scrub_keys``' partition drops, ``backfill``'s planning,
``compact_path``/``file_profile``) need directory list / rename /
delete. Driver-local ``os``/``shutil`` only works for local paths; at
100 TB the mart lives on HDFS / S3A / ABFS. Every helper here resolves
the path's scheme against the active ``SparkSession``'s
``hadoopConfiguration()``, so ``hdfs://``, ``s3a://`` and plain local
paths all go through the same code path the executors use. When no JVM
is up (pure-python unit tests), the helpers fall back to ``os`` —
correct for the only paths that can exist without a session: local ones.

Semantics notes (the reasons not to use raw ``os`` even locally):
* ``rename`` is required to move a directory tree atomically-enough for
  the staging swap; HDFS rename is atomic, S3A's is a copy — which is
  exactly why callers keep the ``recover_merge_target`` repair path.
* ``rmtree``/``exists`` must not race a missing path into an error —
  both treat "already gone" as success, matching
  ``shutil.rmtree(..., ignore_errors=True)``.
"""

from __future__ import annotations

import os
import shutil


def _fs(path: str):
    """(hadoop_fs, jvm_path) for `path` via the active session, or None
    when no JVM is available (fall back to os)."""
    try:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath
    except Exception:
        return None


def join(path: str, *parts: str) -> str:
    """URI-safe path join (Hadoop paths always use '/')."""
    return "/".join([path.rstrip("/"), *parts])


def exists(path: str) -> bool:
    h = _fs(path)
    if h is None:
        return os.path.exists(path)
    fs, p = h
    return bool(fs.exists(p))


def is_dir(path: str) -> bool:
    h = _fs(path)
    if h is None:
        return os.path.isdir(path)
    fs, p = h
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def listdir(path: str) -> list[str]:
    """Child names (not full paths) of a directory."""
    h = _fs(path)
    if h is None:
        return os.listdir(path)
    fs, p = h
    return [s.getPath().getName() for s in fs.listStatus(p)]


def parquet_spark_schema(path: str):
    """The Spark schema (``StructType``) that a Spark writer stored in
    the footer of parquet file `path`, read on the driver, or None when
    no JVM is up or the file carries none (written by another engine).
    Handing it to the reader skips Spark's schema-inference job."""
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql.types import StructType

    h = _fs(path)
    if h is None:
        return None
    fs, p = h
    parquet = SparkSession.getActiveSession()._jvm.org.apache.parquet.hadoop
    reader = parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromPath(p, fs.getConf()))
    try:
        meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
    finally:
        reader.close()
    stored = meta.get("org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(stored)) if stored else None


def rename(src: str, dst: str) -> None:
    """Move a file/tree. `dst` must not exist (staging-swap contract —
    Hadoop rename would otherwise move src INTO an existing dst dir,
    silently nesting the mart)."""
    h = _fs(src)
    if h is None:
        os.rename(src, dst)
        return
    fs, sp = h
    from pyspark.sql import SparkSession
    jvm = SparkSession.getActiveSession()._jvm
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(dp):
        raise FileExistsError(f"rename target exists: {dst}")
    if not fs.rename(sp, dp):
        raise OSError(f"rename failed: {src} -> {dst}")


def rmtree(path: str) -> None:
    """Recursive delete; a missing path is success (idempotent cleanup)."""
    h = _fs(path)
    if h is None:
        shutil.rmtree(path, ignore_errors=True)
        return
    fs, p = h
    if fs.exists(p):
        fs.delete(p, True)


def leaf_parquet_sizes(path: str) -> dict[str, list[int]]:
    """{relative leaf dir -> [parquet file sizes]} for every directory
    under `path` holding data files — the listing a compaction planner
    reads (metadata only, never row data). Hidden/_SUCCESS files are
    skipped. The root itself is keyed ''."""
    out: dict[str, list[int]] = {}
    h = _fs(path)
    if h is None:
        for dirpath, _dirnames, filenames in os.walk(path):
            sizes = [os.path.getsize(os.path.join(dirpath, f))
                     for f in filenames
                     if f.endswith(".parquet") and not f.startswith(".")]
            if sizes:
                rel = os.path.relpath(dirpath, path)
                out["" if rel == "." else rel] = sizes
        return out
    fs, p = h
    base = fs.getFileStatus(p).getPath().toString().rstrip("/")
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        fp = st.getPath()
        name = fp.getName()
        if not name.endswith(".parquet") or name.startswith((".", "_")):
            continue
        parent = fp.getParent().toString().rstrip("/")
        rel = parent[len(base):].lstrip("/")
        out.setdefault(rel, []).append(int(st.getLen()))
    return out
