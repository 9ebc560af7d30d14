"""Python-worker daemon for the factory's sessions.

Started by Spark through ``spark.python.daemon.module``; it runs the stock
``pyspark.daemon`` manager unchanged. It changes two things around it.

Path order. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the
py4j source zip at the front of every worker's ``PYTHONPATH``. Those zips
hold ``.py`` files only, and Python caches no bytecode for modules it
imports from a zip, so every daemon start compiled ``pyspark.sql`` and
the rest of what ``pyspark.worker`` imports from source. When a
directory on the path provides the same pyspark (a byte-equal
``pyspark/version.py``, as a pip-installed pyspark next to the Spark
distribution does) and a py4j, ``prefer_compiled_pyspark`` moves the two
zips to the end of ``sys.path`` before the first pyspark import, so both
packages load from that directory and its bytecode caches. On a 4-vCPU VM the daemon's imports fell from 1.1-1.7 s to
0.24-0.33 s, and the first ``mapInPandas`` after a session restart from
1.8-2.7 s to 1.0-1.25 s. Any other path is left exactly as Spark built it.

Import-cache gate. PySpark's per-task ``setup_spark_files`` ends with
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
directory of every cached zip importer (each zip on ``sys.path``, the
spark-core jar among them, plus one per package imported from a zip):
~0.1 s of every task, warm reused workers included. Here the original function still
reads every protocol byte, but the invalidation runs only when the
worker's import inputs changed since its previous task: on the first
task, when ``sys.path`` changed, or when the name, size or mtime of any
entry of the SparkFiles directory changed (a new ``addPyFile``). Without
that PySpark hook the stock daemon runs as is.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipfile

_PYSPARK_VERSION = "pyspark/version.py"
_PY4J = "py4j/__init__.py"


def _read(entry: str, member: str) -> bytes | None:
    """``member`` of the path entry ``entry`` (a directory or a zip), or None."""
    try:
        if os.path.isdir(entry or "."):
            with open(os.path.join(entry, member), "rb") as f:
                return f.read()
        with zipfile.ZipFile(entry) as z:
            return z.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def prefer_compiled_pyspark(path: list[str]) -> None:
    """Move the ``.zip`` entries of ``path`` that provide pyspark or py4j
    to its end (in place, the other entries keeping their order), if such a
    zip would shadow the first directory entry that provides pyspark, that
    directory's ``pyspark/version.py`` is byte-equal to the zip's, and a
    directory entry provides py4j. Otherwise leave ``path`` unchanged."""
    dirs = [e for e in path if os.path.isdir(e or ".")]
    installed = next((e for e in dirs if _read(e, _PYSPARK_VERSION) is not None), None)
    if installed is None or all(_read(e, _PY4J) is None for e in dirs):
        return
    zips = [e for e in path[: path.index(installed)] if e.endswith(".zip") and os.path.isfile(e)]
    versions = {e: _read(e, _PYSPARK_VERSION) for e in zips}
    shadowing = [v for v in versions.values() if v is not None]
    if not shadowing or shadowing[0] != _read(installed, _PYSPARK_VERSION):
        return
    moved = [e for e in zips if versions[e] is not None or _read(e, _PY4J) is not None]
    path[:] = [e for e in path if e not in moved] + moved


prefer_compiled_pyspark(sys.path)

from pyspark import SparkFiles  # noqa: E402 -- after the path is set


def _import_inputs() -> tuple:
    root = SparkFiles.getRootDirectory()
    try:
        files = sorted(
            (e.name, st.st_size, st.st_mtime_ns) for e in os.scandir(root) for st in (e.stat(),)
        )
    except OSError:
        files = None
    return tuple(sys.path), root, files


class ImportCacheGate:
    """Stands in for ``pyspark.worker.setup_spark_files``; the daemon's
    forked workers each get their own copy of its state."""

    def __init__(self, setup_spark_files):
        self._setup_spark_files = setup_spark_files
        self._last_inputs: tuple | None = None
        self.skipped = 0  # tasks that found the import inputs unchanged

    def __call__(self, infile) -> None:
        invalidate = importlib.invalidate_caches
        importlib.invalidate_caches = lambda: None
        try:
            self._setup_spark_files(infile)
        finally:
            importlib.invalidate_caches = invalidate
        inputs = _import_inputs()
        if inputs == self._last_inputs:
            self.skipped += 1
        else:
            invalidate()
            self._last_inputs = inputs


def main(run_module=runpy.run_module) -> None:
    worker = importlib.import_module("pyspark.worker")
    if hasattr(worker, "setup_spark_files"):
        worker.setup_spark_files = ImportCacheGate(worker.setup_spark_files)
    run_module("pyspark.daemon", run_name="__main__")


if __name__ == "__main__":
    # run under the package name, so that tasks see the gate's class there
    from os___mapreduceframework_spark.worker_daemon import main as package_main

    package_main()
