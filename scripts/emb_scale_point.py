#!/usr/bin/env python
"""Run ONE (query, fixture) scale point in a fresh process and print a
JSON line. Companion to scale_bench.py for the heavy embedding points:
a long-lived session accumulates localCheckpoint blocks and shuffle
files across queries (measured 41 GB after four embedding points --
ContextCleaner only forces a driver GC every 30 min by default), which
both distorts later timings and eats the disk the 300x verify shuffle
needs. One process per point resets that state to zero.

Config deltas vs the bench session, applied identically to EVERY point
so ratios stay comparable (documented in SCALE_r07.json):
  * spark.io.compression.codec=zstd -- shuffle/spill bytes are the
    binding constraint at the 300x point on one box (lz4 spill DNF'd
    at 600k vectors in r6 AND r7); zstd cuts them ~30%.
  * spark.cleaner.periodicGC.interval=45s -- reclaim shuffle files of
    dereferenced stages DURING the run, not 30 min later.

A sampler thread reads free disk (under /tmp) and the 1-minute load
every 15 s while the point runs, so the record carries the peak
transient disk (the binding constraint on a one-box run) and the load
profile OVER the run, not just at its start -- SCALE_r07_strict.json's
strict_600k entries showed start-time load does not predict steal over
a 10-minute run.

Usage: python scripts/emb_scale_point.py QUERY DIR [RUNS] [BUDGET_SEC] [OUT]
Prints (and, given OUT, writes) one JSON object: query, dir, load_1m,
sec_min or error, samples, disk_free_gb {start, min}, peak_transient_gb,
load_profile {samples, min, median, max}. (SCALE_r08-r10.json name the
retired wrapper emb_scale_point_monitored.py, whose record this is.)
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from os___mapreduceframework_spark import queries as registry
from os___mapreduceframework_spark.session import get_session


def free_gb() -> float:
    return shutil.disk_usage("/tmp").free / (1 << 30)


def main() -> int:
    name, d = sys.argv[1], sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    budget = float(sys.argv[4]) if len(sys.argv) > 4 else 420.0
    out_path = sys.argv[5] if len(sys.argv) > 5 else None

    start_free = free_gb()
    stats = {"min_free": start_free, "loads": []}
    stop = threading.Event()

    def sampler() -> None:
        while not stop.wait(15):
            stats["min_free"] = min(stats["min_free"], free_gb())
            stats["loads"].append(round(os.getloadavg()[0], 1))

    t = threading.Thread(target=sampler, daemon=True)
    t.start()

    spark = get_session(
        app_name=f"emb_scale_{name}",
        extra_conf={
            "spark.io.compression.codec": "zstd",
            "spark.cleaner.periodicGC.interval": "45s",
        },
    )
    qs = registry.queries()

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    mat(spark.read.parquet(os.path.join(d, "embeddings.parquet")).limit(1))
    out = {"query": name, "dir": d, "load_1m": round(os.getloadavg()[0], 2)}
    samples: list[float] = []
    try:
        for _ in range(runs):
            t0 = time.perf_counter()
            mat(qs[name](spark, d))
            samples.append(round(time.perf_counter() - t0, 2))
            gc.collect()
            if samples[-1] > budget:
                break
        out["sec_min"] = min(samples)
    except Exception as ex:  # noqa: BLE001 -- the DNF itself is the datum
        out["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    out["samples"] = samples

    stop.set()
    t.join(timeout=1)
    loads = stats["loads"]
    out["disk_free_gb"] = {"start": round(start_free, 1),
                           "min": round(stats["min_free"], 1)}
    out["peak_transient_gb"] = round(start_free - stats["min_free"], 1)
    out["load_profile"] = {
        "samples": len(loads),
        "min": min(loads) if loads else None,
        "median": sorted(loads)[len(loads) // 2] if loads else None,
        "max": max(loads) if loads else None,
    }
    line = json.dumps(out)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
