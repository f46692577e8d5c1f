"""Driver-side filesystem shim over Hadoop's FileSystem API.

The persisted-artifact helpers (the image-hash index meta.json, the
build-once ``_SUCCESS`` probes, the corpus fingerprint of
io.corpus_cache_path) must not use ``os.path`` / ``open`` — local
POSIX calls that silently require the artifact to live on
a posix-mounted path. On the 100 TB deployment it lives on HDFS or S3,
where none of those calls work.

This module routes those operations through
``org.apache.hadoop.fs.FileSystem`` via the session JVM, so the SAME
code path serves ``/tmp/...``, ``file:///...``, ``hdfs://...`` and
``s3a://...`` URIs — the scheme is resolved per-path by
``Path.getFileSystem(hadoopConf)``, exactly how Spark's own writers
resolve it. On the local[*] sandbox this degrades to
``LocalFileSystem`` (no HDFS here — the shim IS the portability).

Semantics note for object stores (see SCALING.md §8): all callers gate
reads on an explicit ``_SUCCESS`` marker written AFTER the data
(Spark's committer does this for parquet dirs), so the rename-less S3
commit model is already safe: a torn write is never authoritative.

Every helper takes an optional ``spark``; when omitted the active
session is used (query functions always run with one).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _resolve(path: str, spark: SparkSession | None = None):
    """(FileSystem, Path, jvm) for ``path`` under the session's Hadoop
    configuration. ``path`` may be a bare posix path or any URI Hadoop
    understands (file://, hdfs://, s3a://, ...)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "no active SparkSession — the Hadoop FileSystem shim reaches "
            "the filesystem through the session JVM"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(path: str, spark: SparkSession | None = None) -> bool:
    fs, jpath, _ = _resolve(path, spark)
    return bool(fs.exists(jpath))


def file_statuses(
    path: str, spark: SparkSession | None = None
) -> list[tuple[str, int, int]]:
    """Sorted (relative path, size, mtime_ms) per FILE under ``path``,
    recursively — or the single entry for a plain file, or [] for a
    missing path. The staleness-fingerprint payload of
    io.corpus_cache_path.
    RECURSIVE because a partitioned corpus (documents.parquet/date=…/
    part-0.parquet) would otherwise fingerprint only the partition
    directories' mtimes, which do NOT change on an in-place part-file
    rewrite — directory entries themselves carry
    no payload, so only leaf files are hashed. Uses Hadoop's bulk
    ``listFiles(recursive=True)`` (one RPC per batch on object
    stores)."""
    fs, jpath, _ = _resolve(path, spark)
    if not fs.exists(jpath):
        return []
    st = fs.getFileStatus(jpath)
    if not st.isDirectory():
        return [(jpath.getName(), int(st.getLen()), int(st.getModificationTime()))]
    root = jpath.toUri().getPath()
    out = []
    # TOCTOU tolerance: a file deleted
    # between listing batches — i.e. a concurrent rewrite, the exact
    # staleness event the fingerprint defends against — must yield a
    # DIFFERENT fingerprint, not a py4j FileNotFoundException that
    # crashes corpus_cache_path. Mirrors the ':gone' fold of the posix
    # walk in io.corpus_cache_path.
    try:
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            s = it.next()
            rel = s.getPath().toUri().getPath()
            if rel.startswith(root):
                rel = rel[len(root):].lstrip("/")
            out.append(
                (rel, int(s.getLen()), int(s.getModificationTime()))
            )
    except Exception:
        out.append((":gone", -1, -1))
    return sorted(out)


def read_text(path: str, spark: SparkSession | None = None) -> str:
    """Whole small file as UTF-8 text (meta.json scale — the bytes
    cross py4j once as one array, not per-read round-trips)."""
    fs, jpath, jvm = _resolve(path, spark)
    stream = fs.open(jpath)
    try:
        buf = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 65536, False)
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def write_text(
    path: str, text: str, spark: SparkSession | None = None
) -> None:
    """Create/overwrite a small text file. Object-store callers write
    data files first and this marker/metadata last (the _SUCCESS
    discipline), so a torn write here is never read as authoritative."""
    fs, jpath, _ = _resolve(path, spark)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
