"""The zip re-read guard installed by ``ragflow_spark.spark.udfs``.

PySpark calls ``importlib.invalidate_caches()`` before every task; on
CPython < 3.13 that re-parses every zip archive on the worker's path
unless the guard is in place.  The guard must skip unchanged archives,
re-read changed ones, install once, and stand aside on CPython >= 3.13.
"""

import importlib.util
import sys
import zipfile
import zipimport

import pytest

from ragflow_spark.spark import udfs


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


@pytest.fixture
def read_count(monkeypatch):
    calls = []
    original = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads lazily")
class TestGuard:
    def test_unchanged_archive_is_read_at_most_once(self, tmp_path, read_count):
        path = str(tmp_path / "one.zip")
        _write_zip(path, {"mod_a.py": "VALUE = 1\n"})
        importer = zipimport.zipimporter(path)
        read_count.clear()
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert len(read_count) <= 1

    def test_changed_archive_is_reread_for_every_importer(self, tmp_path, read_count):
        path = str(tmp_path / "two.zip")
        _write_zip(path, {"mod_a.py": "VALUE = 1\n", "pkg/__init__.py": ""})
        root = zipimport.zipimporter(path)
        sub = zipimport.zipimporter(f"{path}/pkg")
        root.invalidate_caches()
        sub.invalidate_caches()
        _write_zip(path, {
            "mod_a.py": "VALUE = 1\n",
            "pkg/__init__.py": "",
            "mod_b.py": "VALUE = 2\n",
            "pkg/extra.py": "VALUE = 3\n",
        })
        read_count.clear()
        root.invalidate_caches()
        assert read_count == [path]
        assert _load(root, "mod_b").VALUE == 2
        # the sibling importer over the same archive sees the new
        # directory without a second read
        sub.invalidate_caches()
        assert read_count == [path]
        assert _load(sub, "extra").VALUE == 3

    def test_missing_archive_falls_back_to_the_original(self, tmp_path):
        path = tmp_path / "gone.zip"
        _write_zip(str(path), {"mod_a.py": "VALUE = 1\n"})
        importer = zipimport.zipimporter(str(path))
        path.unlink()
        importer.invalidate_caches()
        assert importer.find_spec("mod_a") is None

    def test_install_is_idempotent(self):
        guarded = zipimport.zipimporter.invalidate_caches
        assert hasattr(guarded, "__wrapped__")
        udfs.guard_zip_rereads()
        udfs.guard_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is guarded
        assert not hasattr(guarded.__wrapped__, "__wrapped__")


def test_leaves_cpython_313_untouched(monkeypatch):
    original = getattr(
        zipimport.zipimporter.invalidate_caches, "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    udfs.guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is original


def test_reused_workers_skip_zip_rereads(spark):
    """After one real pass, a task's ``importlib.invalidate_caches()``
    reads no zip archive directory in any worker."""
    from ragflow_spark.data.pagegen import pages_dataframe
    from ragflow_spark.spark.pipeline import PipelineConfig, transform_chunks

    pages = pages_dataframe(spark, 40, seed=5, partitions=4)
    assert transform_chunks(pages, PipelineConfig(out_dir="/tmp/_unused")).count() > 0

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import ragflow_spark.spark.udfs  # noqa: F401 - as unpickling a UDF does

        held = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        reads = []
        original = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _batch in batches:
            pass
        yield pd.DataFrame({"held": [held], "reads": [len(reads)]})

    out = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(probe, schema="held long, reads long")
        .toPandas()
    )
    if not out["held"].any():
        pytest.skip("workers import PySpark from a directory, not a zip")
    assert out["reads"].tolist() == [0] * len(out)
