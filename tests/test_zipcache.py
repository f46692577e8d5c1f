"""The zip-directory guard installed by the package (``_zipcache``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from real_time_data_anomaly_detection_spark import _zipcache

needs_eager_reload = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python >= 3.13 reloads zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)


@needs_eager_reload
def test_guard_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipcache_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zipcache_mod_b", raising=False)
    try:
        import zipcache_mod_a

        assert zipcache_mod_a.VALUE == "a"
        _zipcache.install()
        guard = zipimport.zipimporter.invalidate_caches
        _zipcache.install()
        assert zipimport.zipimporter.invalidate_caches is guard
        assert guard._guarded

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()  # first guarded call records the signature
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zipcache_mod_a": "VALUE = 'a'\n", "zipcache_mod_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import zipcache_mod_b

        assert zipcache_mod_b.VALUE == "b"
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_skip_pyspark_zip_rereads(spark):
    """After an engine UDF ran, a reused Python worker carries the guard
    and a repeated ``importlib.invalidate_caches()`` re-reads no zip."""
    from real_time_data_anomaly_detection_spark.streaming.anomaly import score_anomalies
    from real_time_data_anomaly_detection_spark.streaming.generator import energy_batch

    assert score_anomalies(energy_batch(spark, 2000)).collect()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame(
            {
                "imported": ["real_time_data_anomaly_detection_spark" in sys.modules],
                "guarded": [getattr(zipimport.zipimporter.invalidate_caches, "_guarded", False)],
                "zips": [sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())],
                "rereads": [len(reads)],
                "eager": [sys.version_info < (3, 13)],
            }
        )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, "imported boolean, guarded boolean, zips int, rereads int, eager boolean")
        .collect()
    )
    reused = [r for r in rows if r.imported]
    assert reused, rows
    for r in reused:
        assert r.guarded, rows
        if r.eager:
            assert r.zips > 0 and r.rereads == 0, rows
