#!/usr/bin/env python
"""The oracle-compare harness: every registered query against its DuckDB
twin, one matrix cell (fixture x session config) per run.

Runs the EXACT harness contract -- a plain SparkSession (not the repo's
factory), ``__spark_entry__``'s ``queries()`` / ``oracle_sql()``, DuckDB
views over the fixture parquet -- and compares sorted-column /
sorted-row stringified values (``norm``), which is what the driver's
value hash reduces to. A divergence is a real bug, never noise.

Usage:
    python scripts/preflight_sweep.py [limit|names_csv] [sf_dir]
        [--fixture clean|adversarial|empty|one|dup|conflict|ext_region]
        [--config harness|perturbed]

``limit`` checks only the first N queries (sweep-order prefix),
``names_csv`` only those (targeted re-verify). A fixture other than
``clean`` is built from ``sf_dir`` by ``scripts/sweep_fixtures.py``.
``sf_dir`` defaults to sf0.01 for the clean x harness cell (the tier-1
gate) and to sf0.001 for every other cell.

Run this (plus ``pytest tests/ -q``) before every end-of-round commit;
both rounds 1 and 2 shipped a broken final commit that this gate would
have caught.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from os___mapreduceframework_spark.sources import TABLES
from sweep_fixtures import DEGENERATE, KINDS, build

CLEAN_SF = "/root/testdata/sf0.01"
EDGE_SF = "/root/testdata/sf0.001"

# the documented degenerate-input contract: bucket-anchored queries
# (retention/drift/gap) REFUSE an empty or all-NULL timestamp column
# with this error rather than emit buckets anchored at undefined bounds
# (sources/registry.py ts_bounds_us)
REFUSAL = "timestamp bounds are undefined"

CONFIGS = {
    # the driver's own session
    "harness": {
        "spark.master": "local[8]",
        "spark.sql.shuffle.partitions": "8",
    },
    # A query can pass the harness config and still carry order- or
    # batch-boundary-dependent semantics (an arbitrary-winner dedup, a
    # per-pandas-batch accumulator): the fixed config just happens to
    # produce the matching order. At 100 TB none of these physical
    # knobs is stable -- AQE re-plans shuffle partition counts, splits
    # follow file layout, Arrow batches follow memory pressure -- so
    # this config moves every one: an odd worker count, a different
    # hash layout per shuffle, every scan fractured into 64 KB splits,
    # and 7-row Arrow batches for every pandas/Arrow UDF.
    "perturbed": {
        "spark.master": "local[5]",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.files.maxPartitionBytes": "65536",
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    },
}


def norm(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in idx) for r in rows)


def session(config: str) -> SparkSession:
    builder = SparkSession.builder
    for key, value in {
        **CONFIGS[config],
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def views(sf: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


def run_cell(spark, con, sf, qs, oracles, names, refusal_ok=False) -> int:
    """Check each of ``names`` (``qs[name](spark, sf)`` vs
    ``oracles[name]`` on ``con``), print one line per query and a final
    ``DONE bad=N``, and return N. A query with no oracle only has to
    run (ROWSONLY); the ``REFUSAL`` error passes only if ``refusal_ok``."""
    bad, t_start = 0, time.time()
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            df = qs[name](spark, sf)
            got = norm(df.columns, df.collect())
            if name in oracles:
                res = con.execute(oracles[name])
                want = norm([d[0] for d in res.description], res.fetchall())
        except Exception as ex:  # noqa: BLE001 — gate must report, not die
            if refusal_ok and REFUSAL in str(ex):
                print(f"{i:3d} OK-CONTRACT {name}: refused (ts bounds undefined)",
                      flush=True)
                continue
            bad += 1
            print(f"{i:3d} ERROR {name}: {type(ex).__name__}: "
                  f"{str(ex)[:200]}", flush=True)
            continue
        detail = ""
        if name not in oracles:
            tag = "ROWSONLY"
        elif got == want:
            tag = "OK "
        else:
            bad += 1
            tag = "MISMATCH"
            diff = next(((a, b) for a, b in zip(got, want) if a != b), "row-count")
            detail = f" oracle_rows={len(want)} first_diff={diff}"
        print(f"{i:3d} {tag} {name} rows={len(got)} {time.time() - t0:.1f}s"
              f"{detail}", flush=True)
    print(f"DONE bad={bad} total_sec={time.time() - t_start:.0f}", flush=True)
    return bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Oracle-compare one matrix cell.")
    ap.add_argument("select", nargs="?", default="0",
                    help="check only the first N queries, or these comma-separated names")
    ap.add_argument("sf_dir", nargs="?", help="base fixture dir")
    ap.add_argument("--fixture", default="clean", choices=("clean",) + KINDS)
    ap.add_argument("--config", default="harness", choices=tuple(CONFIGS))
    args = ap.parse_args(argv)

    sf = args.sf_dir or (
        CLEAN_SF if (args.fixture, args.config) == ("clean", "harness") else EDGE_SF
    )
    if args.fixture != "clean":
        sf = build(args.fixture, sf)
    print(f"# fixture={args.fixture} config={args.config} sf_dir={sf}", flush=True)
    spark = session(args.config)
    try:
        import __spark_entry__ as e

        qs, oracles = e.queries(), e.oracle_sql()
        if args.select.isdigit():
            names = list(qs)[: int(args.select) or len(qs)]
        else:
            only = args.select.split(",")
            missing = set(only) - set(qs)
            if missing:
                print(f"UNKNOWN query names: {sorted(missing)}", flush=True)
                return 1
            names = [n for n in qs if n in only]
        bad = run_cell(spark, views(sf), sf, qs, oracles, names,
                       refusal_ok=args.fixture in DEGENERATE)
    finally:
        spark.stop()
        if args.fixture != "clean":
            shutil.rmtree(sf, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
