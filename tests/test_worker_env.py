"""Python-worker set-up gate (`insideout_spark._worker`): a zip directory
is re-read only when its archive changed, and only in PySpark workers
on Python < 3.13."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from insideout_spark import _worker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def read_calls(monkeypatch):
    """Archive paths passed to `zipimport._read_directory`, in call order."""
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def gated_zip(tmp_path, monkeypatch):
    """A zip holding module `m1` on `sys.path`, with the gate installed
    (worker/version check skipped) and removed again after the test."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m1"])
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    _worker._install_gate()
    assert importlib.import_module("m1").NAME == "m1"
    importlib.invalidate_caches()  # the importer's first call reads
    yield path
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(gated_zip, read_calls):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_calls == []


def test_rewritten_archive_is_reread(gated_zip, read_calls):
    _write_zip(gated_zip, ["m1", "m2"])
    importlib.invalidate_caches()
    assert read_calls.count(gated_zip) == 1
    assert importlib.import_module("m2").NAME == "m2"


def test_missing_archive_takes_original_path(gated_zip, read_calls):
    importer = sys.path_importer_cache[gated_zip]
    os.remove(gated_zip)
    importlib.invalidate_caches()
    assert read_calls.count(gated_zip) == 1
    assert importer._files == {}
    assert gated_zip not in zipimport._zip_directory_cache


def test_driver_keeps_stdlib_invalidate(spark):
    """The driver imports the package (and has SparkFiles loaded with
    `_is_running_on_worker` false), so install() leaves it alone."""
    import insideout_spark  # noqa: F401

    _worker.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.mark.parametrize("version, gated", [((3, 12, 9), True), ((3, 13, 0), False)])
def test_install_only_below_313_on_worker(monkeypatch, version, gated):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", version)
    _worker.install()
    module = zipimport.zipimporter.invalidate_caches.__module__
    assert module == ("insideout_spark._worker" if gated else "zipimport")


def test_reused_worker_does_not_reread_zips(spark):
    """Second of two Python jobs: inside the UDF, `importlib.invalidate_caches()`
    (what `setup_spark_files` runs per task) reads no zip directory."""
    import pandas as pd

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import insideout_spark  # noqa: F401  (as any of its UDFs would)

        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        zips = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [len(calls)], "zips": [zips]})

    df = spark.range(0, 4, numPartitions=4)
    schema = "pid long, reads long, zips long"
    df.mapInPandas(probe, schema).collect()
    rows = df.mapInPandas(probe, schema).collect()
    assert len(rows) == 4
    assert all(r["zips"] > 0 for r in rows), rows
    assert [r["reads"] for r in rows] == [0, 0, 0, 0], rows
