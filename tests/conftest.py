"""Shared test fixtures: one SparkSession per test run + an oracle-compare
helper through the harness's own normalizer (scripts/preflight_sweep.py,
the driver's value-hash contract; SURVEY.md section 5.2)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "scripts")]

from os___mapreduceframework_spark.session import get_session
from os___mapreduceframework_spark.sources import TABLES
from preflight_sweep import norm

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="tests", parallelism=4)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{TEST_SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, sql: str) -> None:
    want_rel = duck_con.sql(sql)
    assert sorted(spark_df.columns) == sorted(want_rel.columns), (
        f"schema mismatch: spark={sorted(spark_df.columns)} "
        f"duckdb={sorted(want_rel.columns)}"
    )
    got = norm(spark_df.columns, spark_df.collect())
    want = norm(want_rel.columns, want_rel.fetchall())
    assert len(got) == len(want), f"row count mismatch: spark={len(got)} duckdb={len(want)}"
    if got != want:
        diffs = [(a, b) for a, b in zip(got, want) if a != b][:5]
        raise AssertionError(f"value mismatch, first diffs: {diffs}")
