"""Per-task fixed cost of Python workers: PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and on Python <
3.12 every zip importer then re-reads its whole archive directory.
``lucene_solr_spark.worker_runtime`` makes an unchanged archive a
no-op; a changed one is still re-read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zip directories are read lazily since Python 3.12",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, plus a counter of directory reads of
    that archive."""
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"wr_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(zp)
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == zp:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield zp, reads
    for mod in ("wr_mod_a", "wr_mod_b"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(zp, None)
    zipimport._zip_directory_cache.pop(zp, None)


def test_unchanged_zip_is_not_reread(zip_on_path):
    zp, reads = zip_on_path
    assert importlib.import_module("wr_mod_a").X == 1
    importlib.invalidate_caches()  # records the archive's stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread(zip_on_path):
    zp, reads = zip_on_path
    importlib.import_module("wr_mod_a")
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(zp, {"wr_mod_a": "X = 1\n", "wr_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [zp]
    assert importlib.import_module("wr_mod_b").Y == 2


def test_worker_runs_patched_invalidate_caches(spark):
    """A task whose closure carries an engine function (as every engine
    mapInPandas/applyInPandas closure does) runs on a worker that
    imported the package — so the worker's per-task
    ``invalidate_caches`` skips its unchanged zips."""
    from lucene_solr_spark.analyzer import tokenize_pandas

    def probe(batches):
        import importlib
        import zipimport

        assert tokenize_pandas is not None  # the engine reference
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            yield pd.DataFrame({
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "rereads": [len(reads)],
            })

    (row,) = spark.range(1).coalesce(1).mapInPandas(
        probe, "module string, rereads long"
    ).collect()
    assert row.module == "lucene_solr_spark.worker_runtime"
    assert row.rereads == 0
