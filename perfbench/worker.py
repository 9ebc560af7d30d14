"""One benchmark run inside a Spark driver process; started by run.py.

Steps: set up the package's session three times (one cold start with the
JVM launch, then two restarts on the running JVM) and keep the last; run
every query of the workload once untimed and compare its collected output
with the query's DuckDB oracle, which also warms the JIT; then run a fixed
number of passes over the workload, each in an order drawn from the seed,
timing each query from the registry call to the completed noop write and
checking its row count against the verified one. With ``--trace 1`` the
passes are one more warm-up, then untraced, traced, traced, untraced, and
the traced ones feed the per-layer readers of layers.py.

Prints one JSON line as its last line of standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3

END_TO_END_UNITS = {"run_s": "s", "query_geomean_s": "s", "setup_s": "s"}


def _cpu_ticks() -> tuple[int, int]:
    """All and stolen CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time between two readings that the hypervisor took
    from this machine's virtual CPUs."""
    return (after[1] - before[1]) / max(after[0] - before[0], 1)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _set_up(get_session, data_dir: str, conf: dict[str, str]):
    """A session from the package's factory, warmed the way bench.py warms
    it: one scan and one Python-worker round trip."""
    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    region = spark.read.parquet(os.path.join(data_dir, "region.parquet"))
    _noop(region)
    _noop(region.mapInPandas(lambda it: it, schema=region.schema))
    return spark, time.perf_counter() - t0


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    t_cold = time.perf_counter()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bench import _calibration_sec, _load_avg_1m
    from datagen import TABLES
    from os___mapreduceframework_spark import queries as registry
    from os___mapreduceframework_spark.session import get_session
    from preflight_sweep import norm
    from stats import Tally, suite_metrics
    from workloads import COMPAT_QUERIES, WORKLOADS

    workload = WORKLOADS[args.workload]
    data = args.data
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    }
    if args.trace:
        # room for every stage and SQL execution of the run: the readers
        # need the traced ones still in the status stores at the end
        conf.update({"spark.ui.retainedStages": "10000",
                     "spark.sql.ui.retainedExecutions": "10000"})

    spark, first = _set_up(get_session, data, conf)
    cold_start_s = time.perf_counter() - t_cold
    setups = [first]
    for _ in range(SETUPS - 1):
        spark.stop()
        spark, took = _set_up(get_session, data, conf)
        setups.append(took)

    phase_end = {"set_up": time.perf_counter() - t_cold}
    qs, oracles = registry.queries(), registry.oracle_sql()
    rng = random.Random(args.seed)
    tally = Tally()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    verified: dict[str, int] = {}
    check_order = list(workload.queries)
    rng.shuffle(check_order)
    for name in check_order:
        try:
            df = qs[name](spark, data)
            got = norm(df.columns, df.collect())
            res = con.execute(oracles[name])
            want = norm([d[0] for d in res.description], res.fetchall())
        except Exception as exc:  # noqa: BLE001 -- a failing query is a result
            tally.record(name, False, f"{type(exc).__name__}: {str(exc)[:200]}")
            continue
        if tally.record(name, got == want, f"differs from oracle ({len(got)} vs {len(want)} rows)"):
            verified[name] = len(got)
    con.close()

    phase_end["check"] = time.perf_counter() - t_cold
    load_start = _load_avg_1m()
    calibration_s = _calibration_sec(spark, runs=1)

    tracer = None
    if args.trace:
        from layers import Tracer, Window

        tracer = Tracer(spark)
        tracer.start_memory()
        gc_traced_ms = 0
    samples: dict[str, dict[bool, list[float]]] = {n: {False: [], True: []} for n in verified}
    windows: list = []
    passes: dict[bool | None, int] = {False: 0, True: 0}
    pass_steal: list[float] = []
    # Every run measures the same passes: queries keep speeding up over
    # the first passes (JIT), so a time-boxed run that fits one pass more
    # or less would shift its medians. The pass count is the measurement
    # time over the workload's nominal pass time, and at least three so
    # that each query's median has a middle sample. A traced run makes one
    # more warm-up pass (None: not kept), then untraced, traced, traced,
    # untraced, so a steady drift cancels out of the tracing overhead.
    if args.trace:
        schedule = [None, False, True, True, False]
    else:
        schedule = [False] * max(3, round(args.seconds / workload.pass_s))
    for traced in schedule if verified else ():
        order = list(verified)
        rng.shuffle(order)
        ticks0 = _cpu_ticks()
        gc0 = tracer.gc_total_ms() if traced else 0
        for name in order:
            obs = Observation()
            start_ms = time.time() * 1e3
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, data)
                built_ms = time.time() * 1e3
                if traced:
                    tracer.built(df)
                _noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
                wall = time.perf_counter() - t0
                rows = obs.get["rows"]
            except Exception as exc:  # noqa: BLE001 -- a failing query is a result
                tally.record(name, False, f"{type(exc).__name__}: {str(exc)[:200]}")
                continue
            ok = tally.record(name, rows == verified[name], f"{rows} rows, verified {verified[name]}")
            if ok and traced is not None:
                samples[name][traced].append(wall)
            if traced:
                windows.append(Window(name, start_ms, built_ms, time.time() * 1e3))
        if traced:
            gc_traced_ms += tracer.gc_total_ms() - gc0
        passes[traced] = passes.get(traced, 0) + 1
        pass_steal.append(_steal_share(ticks0, _cpu_ticks()))

    phase_end["passes"] = time.perf_counter() - t_cold
    result = {
        "correct": tally.failed == 0 and len(verified) == len(workload.queries),
        "attempted": tally.attempted,
        "failed": tally.failed,
    }
    untraced = {n: s[False] for n, s in samples.items() if s[False]}
    if not untraced:
        _stop_jvm(spark)
        print(f"no query ran correctly: {tally.failures}", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "check_order": check_order, "passes": passes, "setups_s": setups,
        "cold_start_s": cold_start_s, "phase_end_s": phase_end,
        "load_avg_1m": {"start": load_start, "end": _load_avg_1m()},
        "calibration_s": calibration_s, "steal_share": pass_steal, "failures": tally.failures,
        "failed_frac": tally.failed_frac, "samples": samples,
    }
    if args.trace:
        peak_rss = tracer.stop_memory()
        totals, accounting = tracer.report(windows, COMPAT_QUERIES)
        traced_suite = suite_metrics({n: s[True] for n, s in samples.items() if s[True]})
        metrics = _per_layer(totals, accounting, passes[True], gc_traced_ms, peak_rss,
                             cold_start_s, traced_suite["run_s"] - suite_metrics(untraced)["run_s"])
        record.update(totals=totals, accounting=accounting)
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in suite_metrics(untraced).items()}
        metrics["setup_s"] = (statistics.median(setups), "s")
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    phase_end["report"] = time.perf_counter() - t_cold
    _stop_jvm(spark)
    phase_end["stop"] = time.perf_counter() - t_cold

    os.makedirs(os.path.join(args.work, "results"), exist_ok=True)
    with open(os.path.join(args.work, "results", "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    _summarise(record, file=sys.stderr)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(result))
    return 0


def _per_layer(tot: dict, accounting: list[dict], n_passes: int, gc_ms: float, peak_rss: int,
               cold_start_s: float, overhead_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, per traced pass."""
    per = 1.0 / max(n_passes, 1)
    wall_ms = sum(r["wall_s"] for r in accounting) * 1e3 or 1.0
    share = lambda ms: 100.0 * ms / wall_ms  # noqa: E731
    return {
        "session.cold_start_s": (cold_start_s, "s"),
        "session.jvm_gc_s": (gc_ms / 1e3 * per, "s"),
        "session.peak_rss_mb": (peak_rss / 2**20, "MB"),
        "queries.construct_s": (sum(r["construct_s"] for r in accounting) * per, "s"),
        "queries.eager_sql_execs": (tot["eager_sql_execs"] * per, "count"),
        "queries.analysis_ms": (tot["analysis_ms"] * per, "ms"),
        "queries.optimization_ms": (tot["optimization_ms"] * per, "ms"),
        "queries.planning_ms": (tot["planning_ms"] * per, "ms"),
        "sources.scan_s": (tot["scan_ms"] / 1e3 * per, "s"),
        "sources.input_bytes": (tot["input_bytes"] * per, "bytes"),
        "sources.rows_scanned": (tot["rows_scanned"] * per, "count"),
        "operators.execute_s": (sum(r["wall_s"] - r["construct_s"] for r in accounting) * per, "s"),
        "operators.task_cpu_s": (tot["task_cpu_ns"] / 1e9 * per, "s"),
        "operators.task_run_s": (tot["task_run_ms"] / 1e3 * per, "s"),
        "operators.cpu_share": (tot["task_cpu_ns"] / 1e6 / (tot["task_run_ms"] or 1.0), "ratio"),
        "operators.shuffle_write_bytes": (tot["shuffle_write_bytes"] * per, "bytes"),
        "operators.spill_bytes": (tot["spill_bytes"] * per, "bytes"),
        "operators.broadcast_collect_s": (tot["broadcast_collect_ms"] / 1e3 * per, "s"),
        "operators.python_start_s": (tot["python_start_ms"] / 1e3, "s"),  # whole session
        "operators.python_init_s": (tot["python_init_ms"] / 1e3 * per, "s"),
        "operators.python_run_s": (tot["python_run_ms"] / 1e3 * per, "s"),
        "operators.python_bytes_sent": (tot["python_bytes_sent"] * per, "bytes"),
        "operators.python_bytes_received": (tot["python_bytes_received"] * per, "bytes"),
        "compat.python_run_share": (
            100.0 * tot["compat_python_run_ms"] / (tot["python_run_ms"] or 1.0), "%"),
        "compat.shuffle_write_bytes": (tot["compat_shuffle_write_bytes"] * per, "bytes"),
        "streaming.batches": (tot["stream_batches"] * per, "count"),
        "streaming.trigger_share": (share(tot["stream_trigger_ms"]), "%"),
        "streaming.query_planning_share": (share(tot["stream_planning_ms"]), "%"),
        "streaming.add_batch_share": (share(tot["stream_add_batch_ms"]), "%"),
        "streaming.commit_share": (share(tot["stream_commit_ms"]), "%"),
        "streaming.input_rows": (tot["stream_input_rows"] * per, "count"),
        "streaming.state_rows": (tot["stream_state_rows"] * per, "count"),
        "streaming.state_memory_bytes": (tot["stream_state_memory_bytes"] * per, "bytes"),
        "sinks.output_bytes": (tot["output_bytes"] * per, "bytes"),
        "sinks.output_rows": (tot["output_rows"] * per, "count"),
        "trace.overhead_s": (overhead_s, "s"),
    }


def _summarise(record: dict, file) -> None:
    print(f"# workload={record['workload']} seed={record['seed']} trace={record['trace']} "
          f"passes={record['passes']} failed_frac={record['failed_frac']:.4f} "
          f"load_1m={record['load_avg_1m']} calibration_s={record['calibration_s']} "
          f"steal_share={[round(x, 3) for x in record['steal_share']]}", file=file)
    for fail in record["failures"]:
        print(f"# FAILED {fail}", file=file)
    for rec in record.get("accounting", ()):
        print("# {query}: wall {wall_s:.3f}s = construct {construct_s:.3f}s + plan {plan_s:.3f}s"
              " + execute {execute_s:.3f}s (SQL executions {sql_exec_s:.3f}s, unaccounted"
              " {unaccounted_s:.3f}s)".format(**rec), file=file)
    for name, value in record["metrics"].items():
        print(f"# {name} = {value:.6g}", file=file)


if __name__ == "__main__":
    raise SystemExit(main())
