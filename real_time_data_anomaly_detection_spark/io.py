"""Batch table loaders for the driver fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Everything is a plain ``spark.read.parquet`` scan so Catalyst gets full
predicate pushdown / column pruning / partition pruning; loaders add no
caching or materialization (at 100 TB the scan must stream).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
        # natively (PARQUET_TYPE_ILLEGAL); read nanos as long and convert
        # with integer division (ns > 2^53, so float division would lose
        # precision). DuckDB truncates ns->us identically, keeping oracle
        # parity. The target type is TIMESTAMP_NTZ built by pure epoch
        # arithmetic — year()/hour()/date_trunc() on it are independent
        # of the session time zone (the driver's session tz is not ours
        # to set; tz-aware TIMESTAMP would shift under non-UTC sessions).
        # Scope the conf flip to this read (save/restore): the flag is
        # consulted at schema-inference time, so the already-planned df
        # keeps working after restore (verified), and later reads in a
        # caller-supplied session see their original setting again
        # instead of silently reading nanos parquet as bigint.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql()."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _schema_field_names(schema: str) -> list[str]:
    """Field names of a simple DDL schema string ('a int, b array<x>'),
    splitting on top-level commas only (angle brackets tracked so
    nested struct/array element types don't split)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].strip().split()[0])
            start = i + 1
    names.append(schema[start:].strip().split()[0])
    return names


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small local relation through the ARROW conversion path.

    ``spark.createDataFrame(list, schema)`` plans the rows as a
    pickled Python RDD, and EVERY action on the query re-runs the
    pickle -> Python-worker -> JVM conversion — measured ~0.25 s per
    action for a one-row relation, a fixed tax on every query that
    embeds a driver-computed relation (bloom bitmap, phrase list,
    mix targets, dim tables). Routing the same rows through a pandas
    frame (Arrow serialization, enabled session-wide) converts once
    at build time: build+collect measured 0.27 -> 0.03 s. Same rows,
    same DDL schema string, so results are unchanged."""
    import pandas as pd

    names = _schema_field_names(schema)
    data = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    return spark.createDataFrame(pd.DataFrame(data, columns=names), schema)


def corpus_cache_path(sf_dir: str, table: str, prefix: str) -> str:
    """Session-cache dir under /tmp keyed by a CORPUS FINGERPRINT —
    the absolute table path plus each data file's (name, size,
    mtime_ms), never the sf_dir basename — so two corpora sharing a
    basename, or an in-place rewrite of the same path, get distinct
    cache dirs instead of silently sharing a stale index (the
    _SUCCESS gate only guards torn writes, not staleness). One
    implementation for every persisted-index query cache (IVF /
    text postings / image hashes), so the key scheme cannot drift
    between them.

    Scheme'd (hdfs:// s3a:// file://) corpora fingerprint through the
    Hadoop FS shim: os.stat would silently degrade to a path-only
    hash on remote corpora — no crash, but no staleness protection
    either. Plain posix paths keep the direct os.stat walk: it
    needs no SparkSession (callers may compute cache paths before one
    exists) and keeps NANOSECOND mtime granularity; the shim path's
    Hadoop mtime is milliseconds, where name+size still disambiguate
    a same-ms rewrite of different content length. Residual gap,
    accepted explicitly: a remote rewrite
    within the SAME millisecond producing the SAME byte length keeps
    the fingerprint and silently reuses a stale index. Closing it
    would need a content discriminator (FileSystem.getFileChecksum —
    null on most object stores, a full-data round on others), which
    costs more than the rebuild it saves; real ingest commits are
    not same-ms same-length in-place rewrites."""
    import hashlib

    root = os.path.join(sf_dir, f"{table}.parquet")
    if "://" in sf_dir:
        from real_time_data_anomaly_detection_spark import fs as _fs

        h = hashlib.md5(f"{prefix}:{root}".encode())
        for name, size, mtime_ms in _fs.file_statuses(root):
            h.update(f"{name}:{size}:{mtime_ms}".encode())
        return f"/tmp/spark_graft_{prefix}_{h.hexdigest()[:16]}"
    root = os.path.abspath(root)
    h = hashlib.md5(f"{prefix}:{root}".encode())
    if os.path.isdir(root):
        # Recursive, leaf-files-only (a partitioned
        # corpus's directory mtimes do NOT change on an in-place part
        # rewrite), and TOCTOU-tolerant (a file unlinked
        # between listing and stat — i.e. a concurrent rewrite, the
        # exact staleness event the fingerprint defends against — must
        # yield a DIFFERENT key, not a crash).
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for name in sorted(filenames):
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, root)
                try:
                    st = os.stat(full)
                except OSError:
                    h.update(f"{rel}:gone".encode())
                    continue
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(root):
        st = os.stat(root)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return f"/tmp/spark_graft_{prefix}_{h.hexdigest()[:16]}"
