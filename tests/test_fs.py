"""Hadoop FileSystem shim: the persisted-index helpers (image-index
meta.json, build-once _SUCCESS probes, corpus fingerprints) must work
on any Hadoop-resolvable URI, not just posix paths. The sandbox has no
HDFS — the shim IS the portability — so these tests pin the shim's
primitive semantics over a bare path and over a NON-NORMALIZED
``file:///`` URI, which os.path code could never resolve."""

from __future__ import annotations

import os

import pytest

from real_time_data_anomaly_detection_spark import fs as _fs


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_fs_primitives_roundtrip(spark, tmp_path_factory, scheme):
    """exists/read_text/write_text over a bare posix path and the same
    location as a file:// URI."""
    local = str(tmp_path_factory.mktemp(f"fs_{scheme[:4] or 'posix'}"))
    root = scheme + local

    assert _fs.exists(root, spark)
    assert not _fs.exists(f"{root}/nope", spark)

    _fs.write_text(f"{root}/a/meta.json", '{"k": 1}', spark)
    assert _fs.exists(f"{root}/a/meta.json", spark)
    assert os.path.isfile(f"{local}/a/meta.json")  # same physical location
    assert _fs.read_text(f"{root}/a/meta.json", spark) == '{"k": 1}'
    # overwrite, not append
    _fs.write_text(f"{root}/a/meta.json", '{"k": 2}', spark)
    assert _fs.read_text(f"{root}/a/meta.json", spark) == '{"k": 2}'


def test_image_index_meta_on_file_uri(spark, tmp_path_factory):
    """build_image_index writes meta.json through the shim; the loud
    geometry-mismatch check reads it back — both over a file:/// URI."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        check_image_index_meta,
    )
    from tests.test_multimodal import _ppm

    rng = np.random.RandomState(7)
    rows = [
        (
            i,
            _ppm(
                12,
                10,
                rng.randint(0, 256, 360, dtype=np.int64)
                .astype(np.uint8)
                .tolist(),
            ),
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    local = str(tmp_path_factory.mktemp("imgidx_uri"))
    path = "file://" + local + "/idx"
    build_image_index(df, path, max_hamming=3)  # 8x8, n_bands=4
    assert os.path.exists(local + "/idx/meta.json")
    check_image_index_meta(path, 8, 8, 4)
    with pytest.raises(ValueError, match="banding geometries"):
        check_image_index_meta(path, 8, 8, 8)


def test_corpus_cache_path_staleness(tmp_path):
    """The shared /tmp cache-path helper fingerprints the CORPUS, not
    the directory name: same path + rewritten data → different cache
    dir; identical data → stable dir; different prefixes never
    collide."""
    import time

    from real_time_data_anomaly_detection_spark.io import corpus_cache_path

    d = tmp_path / "documents.parquet"
    d.mkdir()
    f = d / "part-0.parquet"
    f.write_bytes(b"aaaa")
    p1 = corpus_cache_path(str(tmp_path), "documents", "textidx")
    p1b = corpus_cache_path(str(tmp_path), "documents", "textidx")
    assert p1 == p1b
    assert corpus_cache_path(str(tmp_path), "documents", "imgidx") != p1
    time.sleep(0.01)
    f.write_bytes(b"bbbbbb")  # size + mtime change
    os.utime(f)
    p2 = corpus_cache_path(str(tmp_path), "documents", "textidx")
    assert p2 != p1


def test_corpus_cache_path_content_sensitive_on_file_uri(
    spark, tmp_path_factory
):
    """corpus_cache_path fingerprints through fs.file_statuses, so a
    remote (file://, hdfs://, s3a://) corpus dir keeps its staleness
    protection instead of degrading to a path-only hash: on a file:/// sf_dir
    the cache key must CHANGE when the corpus content changes and stay
    stable when it does not."""
    import time

    from real_time_data_anomaly_detection_spark.io import corpus_cache_path

    local = tmp_path_factory.mktemp("cache_uri")
    corpus = local / "documents.parquet"
    corpus.mkdir()
    (corpus / "part-0.parquet").write_bytes(b"A" * 64)
    uri_dir = "file://" + str(local)

    k1 = corpus_cache_path(uri_dir, "documents", "t")
    assert k1 == corpus_cache_path(uri_dir, "documents", "t")  # stable
    assert k1 != corpus_cache_path(uri_dir, "documents", "u")  # per-prefix

    time.sleep(0.002)
    (corpus / "part-0.parquet").write_bytes(b"B" * 65)  # size changes
    k2 = corpus_cache_path(uri_dir, "documents", "t")
    assert k2 != k1, "rewrite of the corpus must change the cache key"

    # a plain (non-URI) path over the same dir also sees content
    k3 = corpus_cache_path(str(local), "documents", "t")
    (corpus / "part-1.parquet").write_bytes(b"C")
    assert corpus_cache_path(str(local), "documents", "t") != k3
