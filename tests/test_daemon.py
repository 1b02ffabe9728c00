"""The engine's worker daemon swaps ``$SPARK_HOME/python/lib`` zips on
``sys.path`` for compiled copies in a per-user cache.

Unit tests run ``ragflow_spark.daemon`` over a fake ``SPARK_HOME``: only
those zips are swapped, a published copy is reused, a rewritten archive
gets a new copy, and every failure (a corrupt archive, an unwritable
cache, a cache someone else could write) leaves the entry on the zip.
The Spark tests check that the conftest session's workers load PySpark
from a copy's bytecode, and that a session whose cache fails the checks
still runs on the stock zip.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

import pytest

from ragflow_spark import daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


@pytest.fixture
def home(tmp_path):
    """A fake SPARK_HOME with a PySpark-like and a py4j-like archive."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    _write_zip(lib / "pyspark.zip", {"fakespark/__init__.py": "VALUE = 1\n"})
    _write_zip(lib / "py4j-0.1-src.zip", {"fakepy4j/__init__.py": ""})
    return lib


@pytest.fixture
def extracts(monkeypatch):
    calls = []
    original = daemon._extract

    def counted(archive, root, copy):
        calls.append(archive)
        return original(archive, root, copy)

    monkeypatch.setattr(daemon, "_extract", counted)
    return calls


def _swap(entry, lib, root):
    return daemon.unzipped(str(entry), os.path.realpath(str(lib)), str(root))


def test_only_lib_zips_are_swapped(home, tmp_path):
    root = tmp_path / "cache"
    other = tmp_path / "other.zip"
    _write_zip(other, {"x.py": ""})
    jar = home / "core.jar"
    _write_zip(jar, {"y.py": ""})
    for entry in (other, jar, home, tmp_path / "missing.zip"):
        assert _swap(entry, home, root) == str(entry)
    for name in ("pyspark.zip", "py4j-0.1-src.zip"):
        copy = _swap(home / name, home, root)
        assert os.path.dirname(copy) == str(root)
        assert os.path.basename(copy).startswith(f"{name}-")
        assert copy.endswith(sys.implementation.cache_tag)
    assert sorted(os.listdir(root)) == sorted(
        os.path.basename(_swap(home / n, home, root)) for n in ("pyspark.zip", "py4j-0.1-src.zip")
    )  # no temp dir left behind
    assert oct(os.stat(root).st_mode & 0o777) == oct(0o700)


def test_copy_holds_compiled_modules(home, tmp_path):
    copy = _swap(home / "pyspark.zip", home, tmp_path / "cache")
    source = os.path.join(copy, "fakespark", "__init__.py")
    assert os.path.isfile(importlib.util.cache_from_source(source))
    spec = importlib.util.spec_from_file_location("fakespark", source)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.VALUE == 1


def test_published_copy_is_reused(home, tmp_path, extracts):
    root = tmp_path / "cache"
    first = _swap(home / "pyspark.zip", home, root)
    assert _swap(home / "pyspark.zip", home, root) == first
    assert extracts == [str(home / "pyspark.zip")]


def test_rewritten_archive_gets_a_new_copy(home, tmp_path, extracts):
    root = tmp_path / "cache"
    archive = home / "pyspark.zip"
    first = _swap(archive, home, root)
    _write_zip(archive, {"fakespark/__init__.py": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = _swap(archive, home, root)
    assert second != first and len(extracts) == 2
    with open(os.path.join(second, "fakespark", "__init__.py")) as f:
        assert f.read() == "VALUE = 2\n"


def test_corrupt_archive_stays_on_the_zip(home, tmp_path, capsys):
    root = tmp_path / "cache"
    archive = home / "pyspark.zip"
    archive.write_bytes(b"PK\x03\x04 not really a zip")
    assert _swap(archive, home, root) == str(archive)
    assert os.listdir(root) == []  # the half-made copy is gone
    out = capsys.readouterr()
    assert out.out == "" and "stays on the zip" in out.err


def test_unwritable_cache_root_stays_on_the_zip(home, tmp_path):
    blocker = tmp_path / "a_file"
    blocker.write_text("")
    archive = home / "pyspark.zip"
    assert _swap(archive, home, blocker / "cache") == str(archive)


@pytest.mark.parametrize("bits", [0o020, 0o002])
def test_writable_by_others_stays_on_the_zip(home, tmp_path, bits):
    archive = home / "pyspark.zip"
    root = tmp_path / "cache"
    root.mkdir(mode=0o700)
    os.chmod(root, 0o700 | bits)
    assert _swap(archive, home, root) == str(archive)
    # a published copy that became writable by others
    os.chmod(root, 0o700)
    copy = _swap(archive, home, root)
    assert copy != str(archive)
    os.chmod(copy, 0o700 | bits)
    assert _swap(archive, home, root) == str(archive)


def test_copy_owned_by_someone_else_stays_on_the_zip(home, tmp_path, monkeypatch):
    archive = home / "pyspark.zip"
    root = tmp_path / "cache"
    assert _swap(archive, home, root) != str(archive)
    monkeypatch.setattr(os, "getuid", lambda: os.stat(root).st_uid + 1)
    assert _swap(archive, home, root) == str(archive)


def test_unzip_spark_paths_rewrites_sys_path(home, tmp_path, monkeypatch):
    other = tmp_path / "other.zip"
    _write_zip(other, {"x.py": ""})
    entries = [str(tmp_path), str(home / "pyspark.zip"), str(other), str(home / "py4j-0.1-src.zip")]
    rest = list(sys.path)
    monkeypatch.setattr(sys, "path", entries + rest)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache, **dict.fromkeys(entries)))
    monkeypatch.setenv("SPARK_HOME", str(home.parent.parent))
    monkeypatch.setenv("HOME", str(tmp_path / "user"))
    daemon.unzip_spark_paths()
    root = daemon.cache_root()
    assert root.startswith(str(tmp_path / "user"))
    assert sys.path[0] == entries[0] and sys.path[2] == entries[2]
    assert [os.path.dirname(p) for p in (sys.path[1], sys.path[3])] == [root, root]
    assert sys.path[4:] == rest
    assert [e in sys.path_importer_cache for e in entries] == [True, False, True, False]


def test_session_workers_load_pyspark_from_bytecode(spark):
    def probe(batches):
        import importlib.util
        import os

        import pandas as pd
        import pyspark
        import pyspark.worker

        for _batch in batches:
            pass
        pyc = importlib.util.cache_from_source(pyspark.worker.__file__)
        yield pd.DataFrame({"file": [pyspark.__file__], "pyc": [os.path.isfile(pyc)]})

    out = spark.range(0, 4, numPartitions=4).mapInPandas(probe, schema="file string, pyc boolean").toPandas()
    for path in out["file"]:
        assert os.path.isfile(path), path  # not a member of a zip
    assert out["pyc"].all()


_BAD_CACHE_JOB = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ragflow_spark.session import get_spark

spark = get_spark("bad-cache", master="local[1]")

def probe(batches):
    import pandas as pd
    import pyspark
    for _batch in batches:
        pass
    yield pd.DataFrame({"file": [pyspark.__file__]})

rows = spark.range(0, 1, numPartitions=1).mapInPandas(probe, schema="file string").collect()
print(json.dumps([r.file for r in rows]))
spark.stop()
"""


def test_session_runs_on_the_zip_when_the_cache_is_untrusted(tmp_path):
    user = tmp_path / "user"
    root = user / ".cache" / "ragflow_spark" / "pylib"
    root.mkdir(parents=True)
    os.chmod(root, 0o777)
    env = dict(os.environ, HOME=str(user), PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-c", _BAD_CACHE_JOB, ROOT],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    files = json.loads(proc.stdout.strip().splitlines()[-1])
    assert files and all("/python/lib/pyspark.zip/" in f for f in files), files
    assert os.listdir(root) == []


_CWD_JOB = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ragflow_spark.session import get_spark

spark = get_spark("any-cwd", master="local[1]")

def probe(batches):
    import pandas as pd
    import ragflow_spark
    for _batch in batches:
        pass
    yield pd.DataFrame({"file": [ragflow_spark.__file__]})

rows = spark.range(0, 1, numPartitions=1).mapInPandas(probe, schema="file string").collect()
print(json.dumps([r.file for r in rows]))
spark.stop()
"""


def test_workers_import_the_engine_from_any_working_directory(tmp_path):
    """The repo is only on the driver's sys.path and the working
    directory is elsewhere: the workers (daemon first) still import
    the engine from the directory that holds it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_JOB, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    files = json.loads(proc.stdout.strip().splitlines()[-1])
    assert files == [os.path.join(ROOT, "ragflow_spark", "__init__.py")]
