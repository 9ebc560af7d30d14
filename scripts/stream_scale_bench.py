#!/usr/bin/env python
"""Streaming scale measurement (VERDICT r6 item 6): drive the three
streaming headliners at 1x (sf0.1) and 30x (sf3.0 fixture) as MULTI-
micro-batch streams and record, per micro-batch, the progress-JSON
state metrics — the question under test is "does state stay bounded
and per-batch throughput flat as the keyspace grows 30x", which the
single-file fixtures (one availableNow batch) cannot show.

Method: each source table is re-written as ``--files`` parquet chunks
(contiguous row ranges, sequential mtimes) so ``maxFilesPerTrigger=1``
replays it as that many micro-batches. The streams mirror the
registered queries' dataflows exactly (same fingerprint, same
watermark, same state operator; the only delta is the multi-file
source dir):

  * stream_incremental_dedup  — applyInPandasWithState first-seen
    dedup keyed on md5(text); state rows == distinct fingerprints.
  * stream_tumbling_agg       — 1 h event-time windows x type with a
    1 h watermark; state rows == open windows.
  * stream_incremental_spans  — foreachBatch window-hash registry
    (state is a parquet registry, not a state store: recorded as
    registry rows after drain + per-batch input/duration).

Output: one JSON file with per-batch
(inputRows, batchDurationMs, stateRowsTotal, stateRowsUpdated,
processedRowsPerSecond) plus per-stream totals at each scale.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from os___mapreduceframework_spark.session import get_session
from os___mapreduceframework_spark.sources.registry import finite_values
from os___mapreduceframework_spark.streaming.incremental import (
    DOCUMENTS_SCHEMA,
    incremental_dedup,
    incremental_span_dedup,
)
from os___mapreduceframework_spark.streaming import windows
from os___mapreduceframework_spark.streaming.windows import (
    drain,
    normalize_events,
    valid_event_times,
)

SCALES = {
    "1x": "/root/testdata/sf0.1",
    "30x": "/tmp/spark_graft_scale/sf3.0",
}
WORK = "/tmp/spark_graft_scale/stream_src"


def split_table(src_dir: str, table: str, dest: str, n_files: int) -> int:
    """Rewrite ``table`` as n contiguous chunks with ascending mtimes
    (the file source orders batches by mtime)."""
    os.makedirs(dest, exist_ok=True)
    t = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
    step = (t.num_rows + n_files - 1) // n_files
    for i in range(n_files):
        chunk = t.slice(i * step, step)
        if chunk.num_rows == 0:
            break
        path = os.path.join(dest, f"{table}_{i:03d}.parquet")
        pq.write_table(chunk, path)
        os.utime(path, (time.time() + i, time.time() + i))
    return t.num_rows


def progress_rows(progress: list[dict]) -> list[dict]:
    out = []
    for p in progress:
        ops = p.get("stateOperators") or []
        out.append(
            {
                "batchId": p.get("batchId"),
                "inputRows": p.get("numInputRows"),
                "batchDurationMs": p.get("batchDuration"),
                "processedRowsPerSecond": round(
                    p.get("processedRowsPerSecond") or 0.0, 1
                ),
                "stateRowsTotal": ops[0].get("numRowsTotal") if ops else None,
                "stateRowsUpdated": ops[0].get("numRowsUpdated") if ops else None,
            }
        )
    return out


def drive(sdf, mode: str) -> tuple[list[dict], float]:
    progress = drain(sdf, lambda w: w.outputMode(mode).format("noop"))
    run = windows.LAST_RUN
    return progress_rows(progress), round(run["start_s"] + run["await_s"], 2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=10)
    ap.add_argument("--out", default="SCALE_r07_stream.json")
    ap.add_argument(
        "--rocksdb",
        action="store_true",
        help="run the state-store streams on the RocksDB provider (the "
        "100 TB backend; config-only switch, tests/test_rocksdb_state.py)",
    )
    args = ap.parse_args()

    spark = get_session(app_name="stream_scale_bench")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if args.rocksdb:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    report: dict = {
        "files_per_source": args.files,
        "state_store": "rocksdb" if args.rocksdb else "default",
        "scales": {},
    }
    shutil.rmtree(WORK, ignore_errors=True)
    for label, src in SCALES.items():
        docs_dir = os.path.join(WORK, label, "documents")
        ev_dir = os.path.join(WORK, label, "events")
        n_docs = split_table(src, "documents", docs_dir, args.files)
        n_events = split_table(src, "events", ev_dir, args.files)
        entry: dict = {"src": src, "n_docs": n_docs, "n_events": n_events}

        # 1. incremental first-seen dedup (applyInPandasWithState)
        docs = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(docs_dir)
            .select("doc_id", F.md5("text").alias("fp"))
        )
        batches, wall = drive(incremental_dedup(docs), "update")
        entry["stream_incremental_dedup"] = {"wall_s": wall, "batches": batches}

        # 2. tumbling event-time windows with watermark
        ev_schema = spark.read.parquet(
            os.path.join(src, "events.parquet")
        ).schema
        raw = (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(ev_dir)
        )
        ev = finite_values(valid_event_times(normalize_events(raw)))
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("sum_value"),
            )
        )
        batches, wall = drive(agg, "update")
        entry["stream_tumbling_agg"] = {"wall_s": wall, "batches": batches}

        # 3. incremental span dedup (foreachBatch + parquet registry):
        # drives its own stream; state = the window-hash registry table
        docs2 = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(docs_dir)
            .select("doc_id", "text")
        )
        state_dir = os.path.join(WORK, label, "spans_state")
        t0 = time.perf_counter()
        spans = incremental_span_dedup(docs2, state_dir)
        n_spans = spans.count()
        wall = round(time.perf_counter() - t0, 2)
        reg = spark.read.parquet(os.path.join(state_dir, "window_registry"))
        entry["stream_incremental_spans"] = {
            "wall_s": wall,
            "spans": n_spans,
            "registry_rows_total": reg.count(),
            "registry_rows_distinct": reg.distinct().count(),
        }

        report["scales"][label] = entry
        print(f"# {label}: {json.dumps(entry)[:400]}...", file=sys.stderr, flush=True)

    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps({"out": args.out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
