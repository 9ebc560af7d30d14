"""The factory's Python-worker daemon: workers load pyspark from compiled
files rather than Spark's source zip, and skip the per-task import-cache
rebuild only while nothing they import from has changed."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile

import pyspark.worker
import pytest
from pyspark import SparkFiles, cloudpickle

from conftest import REPO
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


def _pyspark_origin():
    import py4j
    import pyspark

    return pyspark.__file__, py4j.__file__, pyspark.__version__


def test_factory_workers_load_pyspark_and_py4j_outside_the_zips(spark):
    pyspark_file, py4j_file, version = _one_task_probe(spark, _pyspark_origin)
    for f in (pyspark_file, py4j_file):
        assert ".zip" + os.sep not in f, f
    assert version == pyspark.__version__


def test_importing_the_package_leaves_pyspark_unimported():
    code = (
        "import sys\n"
        "import os___mapreduceframework_spark\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported with the package'\n"
        "from os___mapreduceframework_spark import get_session\n"
        "from os___mapreduceframework_spark.session import get_session as factory\n"
        "assert get_session is factory\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert done.returncode == 0, done.stderr


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def _tree(root, files: dict[str, str]) -> str:
    for name, src in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(src)
    return str(root)


VERSION = '__version__: str = "4.1.2"\n'


def _spark_path(tmp_path, installed: dict[str, str] | None):
    """A worker path as Spark builds it: its two zips in front, then an
    unrelated directory, a jar, and (if given) an installed copy."""
    lib = tmp_path / "lib"
    lib.mkdir()
    zips = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": VERSION}),
        _zip(lib / "py4j-src.zip", {"py4j/__init__.py": ""}),
    ]
    other = _tree(tmp_path / "other", {"mod.py": ""})
    jar = _zip(lib / "core.jar", {"pyspark/version.py": VERSION})
    site = [_tree(tmp_path / "site", installed)] if installed is not None else []
    return zips, [other, jar, *site]


def test_zips_move_behind_an_installed_copy_with_the_same_version(tmp_path):
    zips, rest = _spark_path(
        tmp_path, {"pyspark/version.py": VERSION, "pyspark/__init__.py": "", "py4j/__init__.py": ""}
    )
    path = [rest[0], *zips, *rest[1:]]
    worker_daemon.prefer_compiled_pyspark(path)
    assert path == [*rest, *zips]
    worker_daemon.prefer_compiled_pyspark(path)  # the daemon's module runs it twice
    assert path == [*rest, *zips]


@pytest.mark.parametrize(
    "installed",
    [
        {"pyspark/version.py": VERSION.replace("4.1.2", "4.1.3"), "py4j/__init__.py": ""},
        {"pyspark/version.py": VERSION},  # no py4j outside the zips
        None,
    ],
    ids=["other-version", "no-py4j", "not-installed"],
)
def test_path_stays_as_spark_built_it_without_an_equal_installed_copy(tmp_path, installed):
    zips, rest = _spark_path(tmp_path, installed)
    path = [*zips, *rest]
    worker_daemon.prefer_compiled_pyspark(path)
    assert path == [*zips, *rest]


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
