"""The engine's Python worker daemon: PySpark's own, imported from bytecode.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip
on every worker's ``PYTHONPATH``.  zipimport never caches bytecode, so
each daemon compiled PySpark from source: ``import pyspark.daemon`` took
1.0-1.6 s from the zip against 0.2-0.3 s from bytecode, paid by every
new SparkContext.  This module runs first (``ragflow_spark/__init__``
imports nothing), swaps each of those ``sys.path`` zips for an extracted
copy in a per-user cache, compiled once when it is made, then runs
``pyspark.daemon`` as ``__main__``, unchanged.  Workers fork from the
daemon and inherit its ``sys.path``.

A copy is keyed by the archive's name, size and ``st_mtime_ns`` plus the
interpreter's cache tag, extracted and compiled in a private temp dir and
published with one rename: a racing daemon never sees half a copy, and a
changed archive never reuses a stale one.  A copy is used only when the
current user owns it and its cache root and neither is group- or
world-writable.  Any failure leaves that entry on the zip and says why on
stderr (stdout carries the daemon's port); it never stops the daemon.
Only stdlib modules load here, and nothing else is pre-imported: the
daemon's RSS is every worker's starting point.
"""

from __future__ import annotations

import os
import runpy
import stat
import sys


def cache_root() -> str:
    return os.path.join(os.path.expanduser("~"), ".cache", "ragflow_spark", "pylib")


def _check_private(path: str) -> None:
    """Raise unless ``path`` is a real directory the current user owns
    that no one else may write."""
    st = os.lstat(path)
    if not (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    ):
        raise PermissionError(f"{path} is not a private directory of this user")


def _extract(archive: str, root: str, copy: str) -> None:
    """Publish ``archive``'s members, compiled, at ``copy`` with one
    rename; a copy a racing daemon published first wins."""
    import compileall
    import shutil
    import tempfile
    import zipfile

    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=root)  # mode 0700
    try:
        with zipfile.ZipFile(archive) as zf:
            zf.extractall(tmp)
        # written here, not by the imports: PYTHONDONTWRITEBYTECODE
        # would stop those, and this way no import ever writes to a
        # published copy.  quiet=2 keeps stdout clear
        compileall.compile_dir(tmp, quiet=2)
        os.rename(tmp, copy)
    except OSError:
        if not os.path.isdir(copy):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def unzipped(entry: str, lib_dir: str, root: str) -> str:
    """The extracted copy to put on ``sys.path`` in place of ``entry``,
    or ``entry`` itself when it is not a zip in ``lib_dir`` or anything
    fails."""
    if not entry.endswith(".zip") or os.path.dirname(os.path.realpath(entry)) != lib_dir:
        return entry
    try:
        st = os.stat(entry)
        key = f"{os.path.basename(entry)}-{st.st_size}-{st.st_mtime_ns}-{sys.implementation.cache_tag}"
        copy = os.path.join(root, key)
        os.makedirs(root, mode=0o700, exist_ok=True)
        _check_private(root)
        if not os.path.isdir(copy):
            _extract(entry, root, copy)
        _check_private(copy)
        return copy
    except Exception as exc:  # the daemon must start: stay on the zip
        print(f"ragflow_spark.daemon: {entry} stays on the zip: {exc!r}", file=sys.stderr)
        return entry


def unzip_spark_paths() -> None:
    """Swap ``sys.path``'s ``$SPARK_HOME/python/lib`` zips for their copies."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        return
    lib_dir = os.path.realpath(os.path.join(home, "python", "lib"))
    root = cache_root()
    for i, entry in enumerate(sys.path):
        copy = unzipped(entry, lib_dir, root)
        if copy != entry:
            sys.path[i] = copy
            # a zipimporter made while the engine was found would keep
            # being asked to re-read its archive at every task
            sys.path_importer_cache.pop(entry, None)


if __name__ == "__main__":
    unzip_spark_paths()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
