#!/usr/bin/env python
"""Split each streaming bench entry's wall time into its cost
components (VERDICT r9 item 5): stream START overhead (construction +
query planning + checkpoint/state-store setup up to the first batch),
actual micro-batch DATA work (addBatch), and the post-stream static
tail (memory-sink readback, joins, sort).

Method: run each query N times in one shared session (bench
conditions), read the stream driver's record ``windows.LAST_RUN``
(every batch's progress plus wall stamps around start() and
awaitTermination()) after each run, report the medians of each
component. Progress ``durationMs`` fields are per micro-batch:
``triggerExecution`` covers the whole batch, ``addBatch`` is the data
plan execution inside it; their difference plus the pre-first-batch
wall is the fixed cost a larger batch would amortize.

Usage: python scripts/stream_cost_breakdown.py [runs] > out.json
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from os___mapreduceframework_spark import queries as registry
from os___mapreduceframework_spark.session import get_session
from os___mapreduceframework_spark.streaming import windows

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = ["stream_tumbling_agg", "stream_incremental_dedup", "stream_gap_fill_hourly"]


def stream_record() -> dict:
    """Cost components of the last stream the driver ran."""
    run = windows.LAST_RUN
    progs = run["progress"]
    rec = {
        "start_call_sec": run["start_s"],
        "await_sec": run["await_s"],
        "n_batches": len(progs),
    }
    for key in ("triggerExecution", "queryPlanning", "addBatch", "getBatch",
                "latestOffset", "walCommit", "commitOffsets"):
        rec[f"ms_{key}"] = sum((p.get("durationMs") or {}).get(key, 0) for p in progs)
    return rec


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_session(app_name="stream_cost_breakdown")
    qs = registry.queries()
    out = {"sf_dir": SF_DIR, "runs": runs, "queries": {}}
    for name in QUERIES:
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            rec = stream_record()
            rec["wall_sec"] = round(wall, 3)
            rec["post_stream_sec"] = round(
                wall - rec["start_call_sec"] - rec["await_sec"], 3
            )
            samples.append(rec)
        med = {
            k: round(statistics.median(s.get(k, 0) for s in samples), 3)
            for k in samples[0]
        }
        med["fixed_cost_sec"] = round(
            med["start_call_sec"] + med["await_sec"] - med["ms_addBatch"] / 1000.0, 3
        )
        out["queries"][name] = {"median": med, "samples": samples}
        print(f"# {name}: wall {med['wall_sec']}s = start {med['start_call_sec']}s"
              f" + stream {med['await_sec']}s (addBatch {med['ms_addBatch']}ms,"
              f" {med['n_batches']} batches) + post {med['post_stream_sec']}s;"
              f" fixed ~{med['fixed_cost_sec']}s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
