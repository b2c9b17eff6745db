"""The zip-stamp check: ``importlib.invalidate_caches()`` re-reads a zip's
directory only when the archive changed, in this process and inside Spark
Python workers."""

from __future__ import annotations

import importlib
import json
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from markmuse_spark import _zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_reads(monkeypatch):
    """Archives whose directory ``zipimport`` reads, in call order."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_install_is_idempotent():
    original = _zipimport._invalidate_caches.__wrapped__
    _zipimport.install()
    _zipimport.install()
    importlib.reload(_zipimport)
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is _zipimport._invalidate_caches
    assert _zipimport._invalidate_caches.__wrapped__ is original
    assert original.__module__ == "zipimport"


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, zip_reads, change):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mm_zprobe_a": 1})
    # two importers on one archive, as pyspark.zip has many (one per package dir)
    entries = [os.path.join(archive, "sub"), archive]
    sys.path[:0] = entries
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("mm_zprobe_a").VALUE == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        # first sight after install: one read for the archive, not one per importer
        zip_reads.clear()
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1
        zip_reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in zip_reads

        st = os.stat(archive)
        if change == "size":
            _write_zip(archive, {"mm_zprobe_a": 1, "mm_zprobe_b": 2})
            assert os.stat(archive).st_size != st.st_size
        else:
            _write_zip(archive, {"mm_zprobe_b": 2})
            assert os.stat(archive).st_size == st.st_size
        mtime = st.st_mtime_ns if change == "size" else st.st_mtime_ns + 10**9
        os.utime(archive, ns=(st.st_atime_ns, mtime))
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1
        assert importlib.import_module("mm_zprobe_b").VALUE == 2
        assert importer._files is zipimport._zip_directory_cache[archive]
        assert sys.path_importer_cache[entries[0]]._files is importer._files
    finally:
        del sys.path[:2]
        for key in entries:
            sys.path_importer_cache.pop(key, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop("mm_zprobe_a", None)
        sys.modules.pop("mm_zprobe_b", None)


def test_unreadable_zip_is_reread(tmp_path, zip_reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"mm_zprobe_c": 3})
    importer = zipimport.zipimporter(archive)
    zip_reads.clear()
    try:
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert zip_reads.count(archive) == 1
        os.remove(archive)
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert zip_reads.count(archive) == 3
        assert importer._files == {}
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_task_skips_pyspark_zip_reread(spark):
    def probe(batches):
        for _ in batches:
            pass
        installed = zipimport.zipimporter.invalidate_caches is _zipimport._invalidate_caches
        importlib.invalidate_caches()  # stamps any archive this worker has not seen yet
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sorted({imp.archive for imp in sys.path_importer_cache.values()
                       if isinstance(imp, zipimport.zipimporter)})
        yield pa.RecordBatch.from_pylist(
            [{"installed": installed, "zips": json.dumps(zips), "reads": json.dumps(reads)}])

    rows = (spark.range(0, 64, numPartitions=8)
            .mapInArrow(probe, "installed boolean, zips string, reads string")
            .collect())
    assert len(rows) == 8
    for r in rows:
        assert r["installed"]
        assert any(z.endswith("pyspark.zip") for z in json.loads(r["zips"]))
        assert json.loads(r["reads"]) == []
