"""Smoke test of the one scale runner (scripts/scale_run.py): the
``queries`` subcommand's record keeps the shape of the committed
SCALE_r06.json, which SCALE_INDEX.md names as its artifact."""

from __future__ import annotations

import json
import os

import scale_run

from conftest import REPO


def test_queries_record_keeps_committed_shape(spark, tmp_path, capsys):
    out = str(tmp_path / "scale.json")
    dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    names = ["q1_pricing_summary", "dedup_exact"]
    assert scale_run.main(
        ["queries", "--dirs", *dirs, "--queries", *names, "--runs", "1", "--out", out]
    ) == 0
    with open(out) as f:
        got = json.load(f)
    with open(os.path.join(REPO, "SCALE_r06.json")) as f:
        committed = json.load(f)

    assert list(got) == list(committed)
    assert list(got["queries"]) == names
    want_entry = list(next(iter(committed["queries"].values())))
    for entry in got["queries"].values():
        assert list(entry) == want_entry
        assert list(entry["sec"]) == ["sf0.001", "sf0.01"]
        assert len(entry["samples"]["sf0.01"]) == 1
        assert entry["ratio_vs_base"]["sf0.01"]["data_x"] == 10.0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["out"] == out
