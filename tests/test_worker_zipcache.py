"""Stat-checked zip-archive invalidation in graftpark's Python workers
(graftpark/zipcache.py)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

PRE_313 = sys.version_info < (3, 13)


def test_driver_keeps_stdlib_invalidate_caches():
    import graftpark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("gp_zipcache_m.py", source)


@pytest.mark.skipif(not PRE_313, reason="zipimport invalidation is lazy from 3.13")
def test_stat_checked_rereads_only_changed_archives(tmp_path, monkeypatch):
    from graftpark.zipcache import stat_checked

    archive = str(tmp_path / "m.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        stat_checked(zipimport.zipimporter.invalidate_caches))
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    try:
        import gp_zipcache_m as m

        importlib.invalidate_caches()  # first call stamps the importer
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, "VALUE = 22222\n")  # a different size
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.reload(m).VALUE == 22222
    finally:
        sys.modules.pop("gp_zipcache_m", None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_run_stat_checked_invalidation(spark):
    def probe(batches):
        import zipimport

        import graftpark  # noqa: F401
        import pyarrow as pa

        for _ in batches:
            pass
        hooked = zipimport.zipimporter.invalidate_caches.__module__ == "graftpark.zipcache"
        yield pa.RecordBatch.from_pydict({"hooked": [hooked]})

    for _ in range(2):
        rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "hooked boolean").collect()
        assert len(rows) == 4
        assert all(r["hooked"] == PRE_313 for r in rows)
