#!/usr/bin/env python
"""Cross-engine parity for the LSH EXTENSION region (round 7).

The joint bits+bands knob only engages past 131,072 distinct vectors
-- a scale no driver fixture reaches, so the ordinary sweeps never
execute the extension-band SQL bridge (two-region plane decode, the
nbands CASE, extension-plane weights). This script proves it against
DuckDB at fixture-like cost using the one degree of freedom both
engines already pin: EMPTY embedding lists count toward the
nbits/nbands-driving COUNT(*) but unnest to zero dim rows, so they
vanish from every plane sum identically on both sides.

Fixture: copies sf0.001 (all tables), replaces `embeddings` with
131,073 + 300 distinct vec_ids -- 300 real dim-16 vectors (md5-seeded,
deterministic), the rest empty lists. That forces nbits = 13 /
nbands = 50 (the first extension step) while the actual signature,
candidate, and verify math runs on 300 vectors.

Usage:
    python scripts/ext_region_parity.py [dest_dir]

Exit 0 iff all three banded-family queries hash-match their oracles.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EMPTY = 131_073  # first count past the round-6 cap
N_REAL = 300
DIM = 16
QUERIES = ["dedup_embedding_near", "ann_knn_join_all", "dedup_embedding_clusters"]


def build_fixture(dest: str, src: str = "/root/testdata/sf0.001") -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            shutil.copy(os.path.join(src, f), os.path.join(dest, f))

    def vec(i: int) -> list[float]:
        # deterministic, engine-independent: md5-derived components in
        # [-1, 1); a few near-duplicate pairs planted so the verify
        # stage has real matches to compare
        if i % 50 == 1:  # near-twin of the previous id
            base = vec(i - 1)
            return [v * 0.97 + 0.01 for v in base]
        return [
            (int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for d in range(DIM)
        ]

    ids = list(range(N_REAL)) + list(range(1_000_000, 1_000_000 + N_EMPTY))
    vecs = [vec(i) for i in range(N_REAL)] + [[] for _ in range(N_EMPTY)]
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float64())),
            "label": pa.array(["ext"] * len(ids)),
        }
    )
    pq.write_table(tbl, os.path.join(dest, "embeddings.parquet"))


def main() -> int:
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_ext_parity"
    build_fixture(dest)

    from os___mapreduceframework_spark.operators.minhash import (
        emb_adaptive_bands,
        emb_adaptive_bits,
    )

    n = N_EMPTY + N_REAL
    print(
        f"# fixture {dest}: {n} distinct vec_ids -> "
        f"{emb_adaptive_bits(n)} bits / {emb_adaptive_bands(n)} bands",
        flush=True,
    )
    assert emb_adaptive_bits(n) == 13 and emb_adaptive_bands(n) == 50

    # the preflight harness IS the driver-contract compare; reuse it
    import __spark_entry__ as e
    from preflight_sweep import run_cell, session, views

    spark = session("harness")
    try:
        bad = run_cell(spark, views(dest), dest, e.queries(), e.oracle_sql(), QUERIES)
    finally:
        spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
