"""Pin bench.py's one record writer: the stdout line (keys, their order,
values) and the samples sidecar, on synthetic timings -- no Spark
session."""

from __future__ import annotations

import json

import bench

TIMINGS = {"q_a": 1.0, "q_b": 0.25}
# q_a's median sample is past FLAG_SPREAD x its min: one flagged query
DISPERSION = {"q_a": [1.0, 2.0, 2.5], "q_b": [0.25, 0.26, 0.3]}
LOAD = {"q_a": 1.5, "q_b": 1.75}
CAL_TIMELINE = [{"after": 7, "sec": 0.4, "load_1m": 1.5}]

SHARED_KEYS = [
    "metric", "value", "unit", "queries", "sf", "sf_dir", "mode",
    "runs_per_query", "load_avg_1m", "calibration_sec", "noise",
]


def test_record_line_and_sidecar(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.1/")
    bench._write_record(
        TIMINGS, DISPERSION, LOAD, CAL_TIMELINE,
        runs=3,
        load_avg_1m=(0.5, 0.75),
        calibration=(0.3, 0.35),
    )
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert list(rec) == SHARED_KEYS
    assert rec["metric"] == "headline_suite_wall_sec"
    assert rec["value"] == 1.25 and rec["unit"] == "sec"
    assert rec["queries"] == TIMINGS
    assert rec["sf"] == 0.1 and rec["sf_dir"] == "/data/sf0.1/"
    assert rec["mode"] == "shared"
    assert rec["runs_per_query"] == 3
    assert rec["load_avg_1m"] == {"start": 0.5, "end": 0.75}
    assert rec["calibration_sec"] == {"start": 0.3, "end": 0.35}
    assert rec["noise"] == {"cal_interleaved": [0.4], "n_spread_flagged": 1}

    with open(tmp_path / ".spark_graft_bench_samples.json") as f:
        sidecar = json.load(f)
    assert list(sidecar) == [
        "runs_per_query", "stat",
        "samples", "per_query_load_1m", "cal_timeline", "spread_flagged",
    ]
    assert sidecar["runs_per_query"] == 3 and sidecar["stat"] == "min"
    assert sidecar["samples"] == DISPERSION
    assert sidecar["per_query_load_1m"] == LOAD
    assert sidecar["cal_timeline"] == CAL_TIMELINE
    assert sidecar["spread_flagged"] == ["q_a"]
    # the per-query phase log is gone: the writer leaves only the sidecar
    assert [p.name for p in tmp_path.iterdir()] == [".spark_graft_bench_samples.json"]
