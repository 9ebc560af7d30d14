#!/usr/bin/env python
"""Split each streaming bench entry's wall time into its cost
components (VERDICT r9 item 5): stream START overhead (construction +
query planning + checkpoint/state-store setup up to the first batch),
actual micro-batch DATA work (addBatch), and the post-stream static
tail (memory-sink readback, joins, sort).

Method: monkeypatch ``run_to_completion`` to keep ALL progress events
plus wall stamps around start()/awaitTermination(), run each query
N times in one shared session (bench conditions), report the medians
of each component. Progress ``durationMs`` fields are per micro-batch:
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
from os___mapreduceframework_spark.streaming import incremental, windows

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = ["stream_tumbling_agg", "stream_incremental_dedup", "stream_gap_fill_hourly"]

_trace: dict = {}
_orig = windows.run_to_completion


def traced_run_to_completion(sdf, output_mode="complete", shuffle_partitions=8):
    spark = sdf.sparkSession
    name = f"stream_sink_{next(windows._SINK_COUNTER)}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    t0 = time.perf_counter()
    try:
        if shuffle_partitions is not None:
            n = min(shuffle_partitions, spark.sparkContext.defaultParallelism)
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        t_started = time.perf_counter()
        q.awaitTermination()
        t_done = time.perf_counter()
        progs = q.recentProgress or []
        _trace["start_call_sec"] = t_started - t0
        _trace["await_sec"] = t_done - t_started
        _trace["n_batches"] = len(progs)
        for key in ("triggerExecution", "queryPlanning", "addBatch", "getBatch",
                    "latestOffset", "walCommit", "commitOffsets"):
            _trace[f"ms_{key}"] = sum(
                (p.get("durationMs") or {}).get(key, 0) for p in progs
            )
        sp = [p for p in progs if p.get("stateOperators")]
        windows.LAST_PROGRESS = sp[-1] if sp else (progs[-1] if progs else None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    windows.run_to_completion = traced_run_to_completion
    incremental.run_to_completion = traced_run_to_completion
    spark = get_session(app_name="stream_cost_breakdown")
    qs = registry.queries()
    out = {"sf_dir": SF_DIR, "runs": runs, "queries": {}}
    for name in QUERIES:
        samples = []
        for _ in range(runs):
            _trace.clear()
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            rec = dict(_trace)
            rec["wall_sec"] = round(wall, 3)
            rec["post_stream_sec"] = round(
                wall - rec.get("start_call_sec", 0) - rec.get("await_sec", 0), 3
            )
            samples.append(rec)
        med = {
            k: round(statistics.median(s.get(k, 0) for s in samples), 3)
            for k in samples[0]
        }
        med["fixed_cost_sec"] = round(
            med.get("start_call_sec", 0)
            + med.get("await_sec", 0)
            - med.get("ms_addBatch", 0) / 1000.0,
            3,
        )
        out["queries"][name] = {"median": med, "samples": samples}
        print(f"# {name}: wall {med['wall_sec']}s = start {med['start_call_sec']}s"
              f" + stream {med['await_sec']}s (addBatch {med.get('ms_addBatch', 0)}ms,"
              f" {med.get('n_batches', 0)} batches) + post {med['post_stream_sec']}s;"
              f" fixed ~{med['fixed_cost_sec']}s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
