"""Pin the one oracle-compare harness (scripts/preflight_sweep.py): its
normalizer and its per-query loop, driven by fake query frames and an
in-memory DuckDB -- no Spark session."""

from __future__ import annotations

import math

import duckdb
import pytest

from preflight_sweep import REFUSAL, norm, run_cell


class FakeFrame:
    """What the loop reads of a Spark DataFrame: ``.columns``/``.collect()``."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def frame(columns, rows):
    return lambda spark, sf: FakeFrame(columns, rows)


def fails(message):
    def fn(spark, sf):
        raise RuntimeError(message)

    return fn


@pytest.fixture()
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_norm_ignores_column_and_row_order():
    assert norm(["b", "a"], [(2, 1), (4, 3)]) == norm(["a", "b"], [(3, 4), (1, 2)])
    assert norm(["a", "b"], [(1, 2)]) != norm(["a", "b"], [(2, 1)])


def test_norm_values():
    assert norm(["x"], [(None,)]) == [("None",)]
    # float NaN stringifies the same from either engine's Python value
    assert norm(["x"], [(float("nan"),)]) == norm(["x"], [(math.nan,)]) == [("nan",)]
    assert norm(["t"], [("héllo みんな",)]) == [("héllo みんな",)]
    assert norm(["v"], [([1.5, [2, None]],)]) == [("[1.5, [2, None]]",)]


def test_norm_matches_duckdb_values(con):
    sql = """SELECT * FROM (VALUES
               (1, NULL, 'NaN'::DOUBLE, 'héllo みんな', [[1, 2], [3]]),
               (2, 'x', 0.5, '', []::INTEGER[][])
             ) t(k, s, f, u, l)"""
    res = con.execute(sql)
    got = norm([d[0] for d in res.description], res.fetchall())
    spark_rows = [
        (0.5, [], 2, "x", ""),
        (float("nan"), [[1, 2], [3]], 1, None, "héllo みんな"),
    ]
    assert got == norm(["f", "l", "k", "s", "u"], spark_rows)


def test_loop_counts_mismatch_and_error(con, capsys):
    qs = {
        "good": frame(["b", "a"], [(2, 1)]),
        "wrong": frame(["a", "b"], [(1, 3)]),
        "boom": fails("executor lost"),
        "no_oracle": frame(["a"], [(1,)]),
    }
    oracles = {n: "SELECT 1 AS a, 2 AS b" for n in ("good", "wrong", "boom")}
    assert run_cell(None, con, "sf", qs, oracles, list(qs)) == 2
    out = capsys.readouterr().out.splitlines()
    assert out[0].split()[1:3] == ["OK", "good"]
    assert "MISMATCH wrong" in out[1] and "first_diff=(('1', '3'), ('1', '2'))" in out[1]
    assert "ERROR boom: RuntimeError: executor lost" in out[2]
    assert "ROWSONLY no_oracle" in out[3]
    assert out[4].startswith("DONE bad=2 ")


def test_loop_reports_row_count_mismatch(con, capsys):
    qs = {"short": frame(["a"], [(1,)])}
    oracles = {"short": "SELECT * FROM (VALUES (1), (2)) t(a)"}
    assert run_cell(None, con, "sf", qs, oracles, ["short"]) == 1
    assert "oracle_rows=2 first_diff=row-count" in capsys.readouterr().out


def test_loop_names_each_query_on_stderr_before_it_runs(con, capsys):
    seen = []

    def killed(spark, sf):  # what a killed cell's log holds at this point
        seen.append(capsys.readouterr().err)
        raise RuntimeError("killed")

    qs = {"good": frame(["a"], [(1,)]), "stuck": killed}
    assert run_cell(None, con, "sf", qs, {}, list(qs)) == 1
    assert seen == ["  1 RUN good\n  2 RUN stuck\n"]
    assert "ERROR stuck: RuntimeError: killed" in capsys.readouterr().out


def test_timestamp_refusal_passes_only_in_degenerate_cells(con, capsys):
    qs = {"retention": fails(f"events: {REFUSAL} (no non-NULL ts)")}
    oracles = {"retention": "SELECT 1 AS a"}
    assert run_cell(None, con, "sf", qs, oracles, ["retention"], refusal_ok=True) == 0
    assert "OK-CONTRACT retention" in capsys.readouterr().out
    assert run_cell(None, con, "sf", qs, oracles, ["retention"]) == 1
    assert "ERROR retention" in capsys.readouterr().out


def test_ext_region_fixture_reaches_the_extension_step():
    """``--fixture ext_region``: 300 real vectors plus empty lists push
    the distinct-vector count past the round-6 cap, so the banded
    queries run at 13 bits / 50 bands while scoring only 300 vectors."""
    import shutil

    from os___mapreduceframework_spark.operators.minhash import (
        emb_adaptive_bands,
        emb_adaptive_bits,
    )
    from sweep_fixtures import build

    out = build("ext_region", "/root/testdata/sf0.001")
    try:
        n, n_real = duckdb.sql(
            f"SELECT COUNT(DISTINCT vec_id), COUNT(*) FILTER (len(embedding) > 0) "
            f"FROM '{out}/embeddings.parquet'"
        ).fetchone()
    finally:
        shutil.rmtree(out)
    assert (n, n_real) == (131_373, 300)
    assert (emb_adaptive_bits(n), emb_adaptive_bands(n)) == (13, 50)
