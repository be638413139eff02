"""The stat-gated ``zipimporter.invalidate_caches`` (pdf_to_text_spark/_zipcache.py).

The tests run without Spark except the last, which runs an engine task and then
counts the zip-directory reads a Python worker makes in
``importlib.invalidate_caches()``, which PySpark calls before every task.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pdf_to_text_spark import _zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A fresh archive on sys.path; its importer and modules go at teardown."""
    archive = str(tmp_path / "probe.zip")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith("zc_")]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def count_reads(monkeypatch):
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _rewrite(archive, modules, mtime_ns):
    _write_zip(archive, modules)
    os.utime(archive, ns=(mtime_ns, mtime_ns))


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="replacement not installed")
@pytest.mark.parametrize("same_size", [False, True], ids=["size_changes", "mtime_only"])
def test_rewritten_archive_serves_new_module(zip_on_path, same_size):
    _write_zip(zip_on_path, {"zc_a": "X = 1\n"})
    mtime = os.stat(zip_on_path).st_mtime_ns
    assert importlib.import_module("zc_a").X == 1
    importlib.invalidate_caches()  # stamps the archive
    size = os.stat(zip_on_path).st_size
    if same_size:
        # same member-name length and body length: only the mtime differs
        _rewrite(zip_on_path, {"zc_b": "X = 2\n"}, mtime + 10**9)
        assert os.stat(zip_on_path).st_size == size
    else:
        _rewrite(zip_on_path, {"zc_a": "X = 1\n", "zc_b": "X = 2\n"}, mtime)
        assert os.stat(zip_on_path).st_size != size
    importlib.invalidate_caches()
    assert importlib.import_module("zc_b").X == 2


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="replacement not installed")
def test_unchanged_archive_is_not_reread(zip_on_path, count_reads):
    _write_zip(zip_on_path, {"zc_a": "X = 1\n"})
    importlib.import_module("zc_a")
    importer = sys.path_importer_cache[zip_on_path]
    count_reads.clear()
    importlib.invalidate_caches()
    assert count_reads.count(zip_on_path) == 1  # first sight: read and stamp
    count_reads.clear()
    importlib.invalidate_caches()
    assert count_reads == []
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]
    assert "zc_a.py" in importer._files


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="replacement not installed")
def test_deleted_archive_behaves_as_stock(zip_on_path):
    _write_zip(zip_on_path, {"zc_a": "X = 1\n"})
    importlib.import_module("zc_a")
    importer = sys.path_importer_cache[zip_on_path]
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    # back in place: read again, as the stock method would
    _write_zip(zip_on_path, {"zc_back": "X = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_back").X == 3


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="replacement not installed")
def test_second_install_does_not_wrap_twice():
    method = zipimport.zipimporter.invalidate_caches
    assert method.stat_gated
    assert _zipcache.install() is True
    assert zipimport.zipimporter.invalidate_caches is method


def test_nothing_patched_on_cpython_3_13(monkeypatch):
    def stock(self):
        """Stands in for the interpreter's own method."""

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="replacement not installed")
def test_worker_rereads_no_zip_directory_after_an_engine_task(spark):
    from pyspark.sql import functions as F

    from pdf_to_text_spark.operators.records import doc_artifacts_df

    # one engine mapInArrow task per partition: each worker it lands on
    # imports the engine, which installs the replacement
    texts = spark.range(0, 4, 1, 4).select(
        F.col("id").cast("string").alias("url"), F.lit("x").alias("extracted_text"))
    doc_artifacts_df(texts).collect()

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        engine = "pdf_to_text_spark" in sys.modules
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "engine": [engine],
                            "zips": [zips], "reads": [len(reads)]})

    rows = (spark.range(0, 4, 1, 4)
            .mapInPandas(probe, "pid long, engine boolean, zips long, reads long")
            .collect())
    warm = [r for r in rows if r.engine]
    assert warm, rows  # at least one probe reused a worker that ran the engine
    assert all(r.zips > 0 for r in warm), rows
    assert [r.reads for r in warm] == [0] * len(warm), rows
