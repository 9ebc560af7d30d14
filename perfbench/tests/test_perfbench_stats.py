"""Tests of the benchmark's own helpers; run with
``python3 -m pytest perfbench/tests``. No Spark session is needed."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import worker  # noqa: E402
from datagen import TABLES, Sizes, build_tables, write_tables  # noqa: E402
from stats import Tally, geomean, parse_metric, suite_metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = Sizes(customers=30, suppliers=5, parts=40, orders=200, events=100,
             users=10, documents=40, embeddings=20)


@pytest.mark.parametrize("text, value", [
    ("2,000", 2000.0),
    ("16", 16.0),
    ("0.0 B", 0.0),
    ("1209.0 B", 1209.0),
    ("1654.4 KiB", 1654.4 * 1024),
    ("32.1 MiB", 32.1 * 2**20),
    ("1.5 GiB", 1.5 * 2**30),
    ("942 ms", 942.0),
    ("1.5 s", 1500.0),
    ("2.0 m", 120000.0),
    ("total (min, med, max (stageId: taskId))\n4.3 s (0 ms, 7 ms, 1.2 s (stage 3.0: task 2))",
     4300.0),
    ("total (min, med, max (stageId: taskId))\n31.2 KiB (3.0 KiB, 4.3 KiB, 5.2 KiB "
     "(stage 39.0: task 33))", 31.2 * 1024),
    ("total (min, med, max)\n2,048 (1, 2, 3)", 2048.0),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs"])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    assert geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_suite_metrics_uses_per_query_medians():
    got = suite_metrics({"a": [1.0, 3.0, 2.0], "b": [8.0], "c": [4.0, 4.0]})
    assert got["run_s"] == pytest.approx(2.0 + 8.0 + 4.0)
    assert got["query_geomean_s"] == pytest.approx(math.exp((math.log(2) + math.log(8) + math.log(4)) / 3))


def test_tally_counts_every_attempt():
    t = Tally()
    assert t.record("q1", True)
    assert not t.record("q2", False, "differs from oracle")
    assert t.record("q1", True)
    assert not t.record("q3", False, "ValueError: boom")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert t.failures == ["q2: differs from oracle", "q3: ValueError: boom"]


def test_tally_with_no_attempt_is_all_failed():
    assert Tally().failed_frac == 1.0


def test_tables_are_deterministic_per_seed(tmp_path):
    a = write_tables(str(tmp_path / "a"), 7, TINY)
    b = write_tables(str(tmp_path / "b"), 7, TINY)
    c = write_tables(str(tmp_path / "c"), 8, TINY)
    assert a == b
    assert a != c
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in TABLES)


def test_tables_keep_keys_consistent():
    t = build_tables(3, TINY)
    orders = t["orders"].column("o_orderkey").to_pylist()
    assert set(t["lineitem"].column("l_orderkey").to_pylist()) <= set(orders)
    assert max(t["orders"].column("o_custkey").to_pylist()) < TINY.customers
    assert max(t["lineitem"].column("l_partkey").to_pylist()) < TINY.parts
    texts = t["documents"].column("text").to_pylist()
    assert t["documents"].column("n_chars").to_pylist() == [len(x) for x in texts]
    vecs = t["embeddings"].column("embedding").to_pylist()
    assert all(abs(sum(v * v for v in vec) - 1.0) < 1e-4 for vec in vecs)
    ts = t["events"].column("ts").to_pylist()
    assert ts == sorted(ts)


def test_benchmark_json_names_what_the_worker_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = worker._per_layer(defaultdict(float), [], 1, 0, 0, 0, 0)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (k, u) for k, (_, u) in per_layer.items()]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == worker.END_TO_END_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
