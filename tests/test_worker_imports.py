"""Importing ``enem_spark`` makes ``importlib.invalidate_caches()`` re-read
a zip archive on ``sys.path`` only when the archive changed. pyspark's
worker invalidates before every task; without the check each task re-read
``pyspark.zip`` once per imported package dir."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import enem_spark
from enem_spark import staging_path


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive with one module on ``sys.path``; returns a writer
    ``(modules) -> archive path`` that (re)writes it in place."""
    archive = str(tmp_path / "mods.zip")

    def write(modules: dict[str, str]) -> str:
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)
        return archive

    write({"wi_zip_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    yield write
    for name in ("wi_zip_a", "wi_zip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def _directory_reads(monkeypatch) -> list[str]:
    """Archives passed to ``zipimport._read_directory`` from now on."""
    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive = zip_on_path({"wi_zip_a": "VALUE = 'a'\n"})
    assert importlib.import_module("wi_zip_a").VALUE == "a"
    importlib.invalidate_caches()

    reads = _directory_reads(monkeypatch)
    importlib.invalidate_caches()

    assert archive not in reads


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    zip_on_path({"wi_zip_a": "VALUE = 'a'\n"})
    importlib.import_module("wi_zip_a")
    importlib.invalidate_caches()

    archive = zip_on_path({"wi_zip_a": "VALUE = 'a'\n", "wi_zip_b": "VALUE = 'b'\n"})
    reads = _directory_reads(monkeypatch)
    importlib.invalidate_caches()

    assert archive in reads
    assert importlib.import_module("wi_zip_b").VALUE == "b"


def test_installing_twice_keeps_one_wrapper():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed._stat_checked

    enem_spark._install_stat_checked_zip_invalidation()

    assert zipimport.zipimporter.invalidate_caches is installed


def test_spark_workers_do_not_reread_archives(spark):
    def rereads(batches):
        staging_path  # an engine function: unpickling it imports enem_spark
        importlib.invalidate_caches()
        reads: list[str] = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for b in batches:
            yield pd.DataFrame(
                {"id": b["id"], "reads": len(reads), "importers": importers}
            )

    rows = (
        spark.range(0, 8, 1, 8)
        .mapInPandas(rereads, "id long, reads int, importers int")
        .toPandas()
    )

    assert len(rows) == 8
    assert (rows["importers"] > 0).all()  # the workers import from a zip
    assert (rows["reads"] == 0).all()
