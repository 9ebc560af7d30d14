"""Python-worker daemon for the factory's sessions.

Started by Spark through ``spark.python.daemon.module``; it runs the stock
``pyspark.daemon`` manager unchanged. PySpark's per-task
``setup_spark_files`` ends with ``importlib.invalidate_caches()``, which on
Python 3.11 re-reads the directory of every zip on the worker path
(``pyspark.zip`` once per imported sub-package, plus the spark-core jar):
0.1-0.2 s of every task, warm reused workers included. Here the original
function still reads every protocol byte, but the invalidation runs only
when the worker's import inputs changed since its previous task: on the
first task, when ``sys.path`` changed, or when the name, size or mtime of
any entry of the SparkFiles directory changed (a new ``addPyFile``).
Without that PySpark hook the stock daemon runs as is.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys

from pyspark import SparkFiles


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
