"""The factory's Python-worker daemon: workers skip the per-task
import-cache rebuild only while nothing they import from has changed."""

from __future__ import annotations

import importlib
import json
import os
import sys
import uuid
import zipfile

import pyspark.worker
import pytest
from pyspark import SparkFiles, cloudpickle

from os___mapreduceframework_spark import worker_daemon

# the probes below run in Python workers, which cannot import this file
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _one_task_probe(spark, probe):
    """Run ``probe()`` in one Python task; return what it returned."""

    def run(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"out": [json.dumps(probe())]})

    rows = spark.range(1).repartition(1).mapInPandas(run, "out string").collect()
    return json.loads(rows[0].out)


def _worker_state():
    gate = pyspark.worker.setup_spark_files
    gated = isinstance(gate, worker_daemon.ImportCacheGate)
    return os.getpid(), gated, getattr(gate, "skipped", -1)


def test_factory_workers_run_the_daemon_and_skip_repeat_invalidation(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == worker_daemon.__name__
    seen = [_one_task_probe(spark, _worker_state) for _ in range(12)]
    assert all(gated for _, gated, _ in seen), seen
    # a worker that runs again with unchanged inputs counts a skipped rebuild
    later = {}
    for pid, _, skipped in seen:
        if pid in later:
            assert skipped > later[pid], seen
        later[pid] = skipped
    assert len(later) < len(seen), "no worker was reused"


@pytest.mark.parametrize("kind", ["py", "zip"])
def test_py_file_added_to_warm_workers_is_importable_next_task(spark, tmp_path, kind):
    _one_task_probe(spark, _worker_state)  # warm: the worker has run a task
    name = f"graft_probe_{uuid.uuid4().hex}"
    src = f"VALUE = {len(name)}\n"
    path = tmp_path / f"{name}.{kind}"
    if kind == "py":
        path.write_text(src)
    else:
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{name}.py", src)
    spark.sparkContext.addPyFile(str(path))

    def imports():
        return importlib.import_module(name).VALUE

    assert _one_task_probe(spark, imports) == len(name)


def test_gate_invalidates_only_when_import_inputs_change(monkeypatch, tmp_path):
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    monkeypatch.setattr(SparkFiles, "getRootDirectory", lambda: str(tmp_path))
    read = []
    gate = worker_daemon.ImportCacheGate(
        lambda infile: (read.append(infile), importlib.invalidate_caches())
    )

    gate("task1")
    gate("task2")
    assert (calls, gate.skipped) == ([1], 1)
    monkeypatch.setattr(sys, "path", [*sys.path, "/graft-new-path-entry"])
    gate("task3")
    assert (calls, gate.skipped) == ([1, 1], 1)
    (tmp_path / "shipped.zip").write_bytes(b"PK")  # a new addPyFile
    gate("task4")
    gate("task5")
    assert (calls, gate.skipped) == ([1, 1, 1], 2)
    # the original function read every task's input
    assert read == ["task1", "task2", "task3", "task4", "task5"]


@pytest.mark.parametrize("hook", ["missing", "present"])
def test_main_runs_the_stock_daemon_and_gates_the_hook_if_present(monkeypatch, hook):
    if hook == "missing":
        monkeypatch.delattr(pyspark.worker, "setup_spark_files")
    else:  # restored after the test
        monkeypatch.setattr(pyspark.worker, "setup_spark_files", pyspark.worker.setup_spark_files)
    ran = []
    worker_daemon.main(run_module=lambda name, run_name: ran.append((name, run_name)))
    assert ran == [("pyspark.daemon", "__main__")]
    gate = getattr(pyspark.worker, "setup_spark_files", None)
    assert isinstance(gate, worker_daemon.ImportCacheGate) == (hook == "present")
