"""Structured Streaming operators on the events stream (SURVEY.md M5).

The reference is strictly batch (its concurrent shuffle,
MapReduceFramework.cpp:166-230, is intra-job pipelining, not a streaming
data model); streaming enters per the charter. Each query here reads the
events parquet as a file-source stream (``readStream``), applies
event-time windowing/watermarking/stateful ops, and drives the stream to
completion through a memory sink, returning the final static result.
Batch equivalence gives the DuckDB oracle: the same aggregation over the
static table must produce identical results, which is exactly the
guarantee Structured Streaming's incremental execution model makes.

Scale notes: at 100 TB-equivalent rates the file source becomes Kafka
and the memory sink becomes a Delta/parquet ``foreachBatch`` writer --
the dataflow (watermark -> windowed state store -> output mode) is
unchanged. Watermarks bound state store size; without them a tumbling
aggregation over an unbounded key space leaks state forever.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.scratch import scratch_dir
from os___mapreduceframework_spark.sources.registry import (
    finite_values,
    normalize_events,
    valid_event_times,
)

_SINK_COUNTER = itertools.count()

# Final progress of the most recent run_to_completion stream (the entry
# with stateOperators populated). Streaming physical plans cannot be
# golden-snapshotted (micro-batch plans embed checkpoint-specific
# state-store paths), so tests pin the execution SHAPE from here
# instead: state operator names/count and watermark presence
# (tests/test_stream_plan_goldens.py, VERDICT r5 item 4).
LAST_PROGRESS: dict | None = None


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. The file source needs
    an explicit schema; rather than hardcoding one (fixtures have shipped
    ts as both int64-nanos and timestamp[us]), take it from a batch
    footer read of the same file, then share the batch reader's
    ``normalize_events`` so stream and batch agree exactly.

    ``valid_event_times`` applies the temporal-validity ingestion
    contract (sources.VALID_TS_SQL) at this boundary: a clock-skewed
    row (pre-epoch 1969 or year-2098) makes watermark eviction depend
    on which micro-batch delivered it -- a future outlier advances the
    watermark past the whole live corpus. Every streaming oracle
    mirrors the same predicate; batch readers are untouched (batch is
    order-independent)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")  # file source wants a dir
        .load(sf_dir)
    )
    return valid_event_times(normalize_events(raw))


def run_to_completion(
    sdf: DataFrame,
    output_mode: str = "complete",
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Drive a streaming frame through a memory sink until the source is
    exhausted; return the materialized result as a static DataFrame.

    ``shuffle_partitions`` caps the state-store partition count for THIS
    query (fresh checkpoint every call, so the setting is free to vary);
    the count is also held to the session's default parallelism, so the
    state tasks run in one wave. Windowed aggregations carry tiny bounded
    state (windows x types) and pay ~1 s/query of per-partition
    state-store setup at 32 partitions -- 8 halves the wall time
    (measured 2.2 s -> 1.2 s at sf0.1), and on 4 cores 4 partitions beat
    8 again (stream_stateful_user_stats 2.00 s -> 1.68 s at sf0.1).
    Compute-heavy streams (incremental minhash) pass None to keep the
    session's full parallelism. On a real cluster this knob is the
    state-rebalance tradeoff: partitions are fixed per checkpoint, so
    production streams size it to peak key cardinality, not setup cost.
    """
    spark = sdf.sparkSession
    name = f"stream_sink_{next(_SINK_COUNTER)}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
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
        q.awaitTermination()
        global LAST_PROGRESS
        progs = [p for p in (q.recentProgress or []) if p.get("stateOperators")]
        LAST_PROGRESS = progs[-1] if progs else q.lastProgress
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


@query(
    "stream_tumbling_agg",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events WHERE (value IS NULL OR isfinite(value))
      AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Tumbling 1-hour event-time windows x event_type via Structured "
    "Streaming (readStream -> window -> memory sink driven to "
    "completion). Oracle is the batch-equivalent aggregation -- the "
    "incremental-execution guarantee under test.",
)
def q_stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(events_stream(spark, sf_dir))
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
    out = run_to_completion(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("window_start", "event_type")


@query(
    "stream_sliding_agg",
    oracle="""
    WITH expanded AS (
      SELECT unnest([time_bucket(INTERVAL 1 HOUR, ts),
                     time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR]) AS w_start,
             value
      FROM events WHERE (value IS NULL OR isfinite(value))
      AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM expanded
    GROUP BY 1
    ORDER BY window_start
    """,
    doc="Sliding windows (2h length, 1h slide): every event lands in two "
    "overlapping windows; oracle expands each event to both window "
    "starts explicitly.",
)
def q_stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(events_stream(spark, sf_dir))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    out = run_to_completion(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "sum_value",
    ).orderBy("window_start")


@query(
    "stream_session_window",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                   OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Event-time session windows (30-minute gap) per user via "
    "session_window: dynamic-length stateful windows that merge as "
    "events arrive. Oracle is the batch lag+cumsum sessionization -- "
    "the two formulations must agree exactly.",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, "complete")
    return out.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
    ).orderBy("user_id", "session_start")


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT user_id, event_type FROM events
          WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00')
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Streaming stateful deduplication: dropDuplicates on "
    "(user_id, event_type), then a complete-mode count. NOTE the state "
    "caveat: because the dedup keys do not embed event time, per-key "
    "state is NEVER evicted by the watermark -- fine for bounded key "
    "domains (users x types), unbounded otherwise; "
    "stream_dedup_within_watermark is the watermark-evictable form.",
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = run_to_completion(agg, "complete")
    return out.orderBy("event_type")


@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events WHERE (value IS NULL OR isfinite(value))
      AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Custom stateful streaming operator via applyInPandasWithState: "
    "per-user running (count, sum) state updated per micro-batch, final "
    "state emitted. The arbitrary-stateful escape hatch for operators "
    "windowed aggregation can't express; state store bounds memory, "
    "decimal-in-state keeps the oracle exact.",
)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # finite_values is load-bearing here beyond oracle parity: a NaN
    # reaching the state code would raise (int(round(nan))) and kill
    # the whole stream -- measured by the adversarial IEEE-special rows
    ev = finite_values(events_stream(spark, sf_dir)).select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        # state: (n_events, total_value_scaled_e4) -- integer-scaled sum
        # so accumulation is exact regardless of batch order
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            tot += int(round(float(pdf["value"].sum()) * 10_000))
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(tot / 10_000, 2)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, tot long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_completion(out, "update")
    # the update-mode memory sink APPENDS a row per (key, micro-batch);
    # keep each user's final state (n_events grows monotonically) so a
    # multi-batch source can't leave stale partials in the result
    return (
        sunk.groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "total_value"), "n_events").alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"),
                F.col("s.total_value").alias("total_value"))
        .orderBy("user_id")
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events WHERE (value IS NULL OR isfinite(value))
      AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="foreachBatch sink: each micro-batch is handed to arbitrary "
    "batch-DataFrame code (here: parquet append to a scratch dir -- at "
    "scale, the Delta/upsert escape hatch streaming sinks can't "
    "express). The final result is read back from the files the sink "
    "wrote, so the oracle verifies the whole write path.",
)
def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    out_dir = scratch_dir("foreach_batch_sink")
    shutil.rmtree(out_dir, ignore_errors=True)

    ev = finite_values(events_stream(spark, sf_dir)).select("event_type", "value")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    # fresh checkpoint per invocation: a reused checkpoint pins the old
    # source path and fails with 'Wrong basePath' on a different sf_dir
    ckpt = tempfile.mkdtemp(prefix="fbs_ckpt_", dir=tempfile.gettempdir())
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_tumbling_append",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00')
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           COUNT(*) AS n
    FROM events, mx
    WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    GROUP BY 1
    HAVING MAX(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR)
           <= (SELECT time_bucket(INTERVAL 1 HOUR, m) FROM mx)
    ORDER BY window_start
    """,
    doc="Append-mode tumbling windows: only windows CLOSED by the "
    "watermark are emitted (the production pattern -- downstream "
    "consumers see each window exactly once, immutable). With a 0-delay "
    "watermark the final open window is withheld; the oracle reproduces "
    "that via the max-event-time cutoff.",
)
def q_stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_completion(agg, "append")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "n",
    ).orderBy("window_start")


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT user_id, event_type FROM events
          WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00')
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="dropDuplicatesWithinWatermark: unlike plain dropDuplicates "
    "(whose per-key state lives forever unless the key embeds event "
    "time), state for a key is EVICTED once the watermark passes its "
    "first-seen event time plus the delay -- the formulation whose "
    "state is bounded by the watermark window, not key cardinality. "
    "The fixture arrives in one batch, so the result equals exact "
    "distinct; the eviction semantics are what the operator choice "
    "pins at scale.",
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_completion(agg, "complete").orderBy("event_type")


@query(
    "stream_ohlc_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND((MIN(struct_pack(
             k := lpad(epoch_us(ts)::VARCHAR, 20, '0') || '_' || lpad(event_id::VARCHAR, 12, '0'),
             o := COALESCE(value, 'infinity'::DOUBLE), v := value))).v, 4) AS DOUBLE)
             AS open,
           CAST(ROUND(MAX(value), 4) AS DOUBLE) AS high,
           CAST(ROUND(MIN(value), 4) AS DOUBLE) AS low,
           CAST(ROUND((MAX(struct_pack(
             k := lpad(epoch_us(ts)::VARCHAR, 20, '0') || '_' || lpad(event_id::VARCHAR, 12, '0'),
             o := COALESCE(value, '-infinity'::DOUBLE), v := value))).v, 4) AS DOUBLE)
             AS close
    FROM events WHERE (value IS NULL OR isfinite(value))
      AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Streaming OHLC candles: the events_ohlc_hourly aggregate run "
    "as a Structured Streaming tumbling window (watermark-bounded "
    "state). min/max over ((ts, event_id) key, value) ordering structs "
    "are incrementally mergeable, so open/close carry exactly four "
    "scalars of state per (window, series) -- the live-market-data "
    "shape; same-key conflict ties resolve to the smaller/larger value "
    "per the batch operator's contract. Oracle is the batch-equivalent "
    "candle per the streaming module's batch-equivalence contract.",
)
def q_stream_ohlc_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(events_stream(spark, sf_dir))
    # same ordering contract as events_ohlc_hourly (operators/
    # temporal.py): zero-padded (ts, event_id) key, value as the final
    # ordering component so a replayed event_id with a corrected value
    # cannot produce an engine-dependent winner; NULL-valued
    # duplicates lose ties via the +-infinity ordering slot
    tie = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lit("_"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    open_s = F.struct(
        tie.alias("k"),
        F.coalesce("value", F.lit(float("inf"))).alias("o"),
        F.col("value").alias("v"),
    )
    close_s = F.struct(
        tie.alias("k"),
        F.coalesce("value", F.lit(float("-inf"))).alias("o"),
        F.col("value").alias("v"),
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(open_s).getField("v"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(close_s).getField("v"), 4).alias("close"),
        )
    )
    out = run_to_completion(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
        "open",
        "high",
        "low",
        "close",
    ).orderBy("window_start", "event_type")


@query(
    "stream_gap_fill_hourly",
    oracle="""
    WITH u AS (
      SELECT user_id,
             time_bucket(INTERVAL 1 HOUR, MIN(ts)) AS lo,
             time_bucket(INTERVAL 1 HOUR, MAX(ts)) AS hi
      FROM events
      WHERE user_id % 10 = 0 AND (value IS NULL OR isfinite(value))
        AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
      GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      FROM u
    ),
    hourly AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
      FROM events
      WHERE user_id % 10 = 0 AND (value IS NULL OR isfinite(value))
        AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT g.user_id,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           h.v IS NOT NULL AS observed,
           LAST_VALUE(h.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS UNBOUNDED PRECEDING) AS v_filled
    FROM grid g LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour = h.hour
    ORDER BY g.user_id, g.hour
    """,
    doc="Streaming feature-table pipeline with gap-fill: the hourly "
    "per-user aggregate is maintained INCREMENTALLY by Structured "
    "Streaming (watermarked tumbling windows -> memory sink driven to "
    "completion -- in production a foreachBatch upsert into the feature "
    "store), and the resample-plus-forward-fill runs as the downstream "
    "batch view over the materialized hourly table (grid via "
    "sequence+explode, last(ignorenulls) carry-forward). Same output "
    "contract as the batch events_gap_fill -- the stream/batch "
    "equivalence guarantee extended through a composed two-stage "
    "pipeline. State is bounded by the watermark; the fill stage's "
    "windows stay per-key parallel.",
)
def q_stream_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(events_stream(spark, sf_dir)).filter(
        F.col("user_id") % 10 == 0
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("v")
        )
    )
    # localCheckpoint breaks the memory-sink view's shared lineage: grid
    # is derived FROM hourly and then left-joins it, and the MemoryPlan
    # self-join otherwise fails attribute deduplication (tiny frame --
    # one row per (user, active hour))
    hourly = (
        run_to_completion(agg, "complete")
        .select("user_id", F.col("window.start").alias("hour"), "v")
        .localCheckpoint(eager=False)
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour"
            ),
        )
    )
    w = W.partitionBy("user_id").orderBy("hour").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("v").isNotNull().alias("observed"),
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
        .orderBy("user_id", "hour")
    )


@query(
    "stream_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS n_purchases,
           CAST(COUNT(CASE WHEN value IS NOT NULL AND NOT isfinite(value)
                           THEN 1 END) AS BIGINT) AS n_nonfinite_value
    FROM events
    WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    """,
    doc="STREAMING in-flight metrics via observe() (the streaming twin "
    "of quality_observe_metrics): named counters attach to the event "
    "stream and surface per micro-batch in StreamingQueryProgress."
    "observedMetrics; the query sums them across every batch of an "
    "availableNow run and the total must equal the batch aggregate "
    "over the same fixture -- the cross-batch additivity that makes "
    "streaming counters trustworthy dashboards. Counters are "
    "count(CASE ...): additive, 0 on an empty batch, and the "
    "non-finite counter is the monitoring view of the finite-"
    "measurement ingestion contract (sources.finite_values). Zero "
    "extra scans at any scale: metrics ride the tasks the stream "
    "already runs.",
)
def q_stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = events_stream(spark, sf_dir)
    observed = ev.observe(
        "ingest_quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchases"
        ),
        F.count(
            F.when(
                F.col("value").isNotNull()
                & (F.isnan("value") | (F.abs("value") == float("inf"))),
                1,
            )
        ).alias("n_nonfinite_value"),
    )
    # recentProgress is a ring buffer (numRecentProgressUpdates,
    # default 100): a multi-file source split into >100 micro-batches
    # would silently drop the oldest batches' counters -- raise the cap
    # for this run so the sum really covers EVERY batch
    conf_key = "spark.sql.streaming.numRecentProgressUpdates"
    old_cap = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "100000")
    try:
        q = (
            observed.writeStream.format("noop")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = list(q.recentProgress or [])
    finally:
        spark.conf.set(conf_key, old_cap)
    totals = {"n_rows": 0, "n_purchases": 0, "n_nonfinite_value": 0}
    for p in progresses:
        om = (p.get("observedMetrics") or {}).get("ingest_quality")
        if om:
            for k in totals:
                totals[k] += int(om[k])
    schema = StructType(
        [StructField(k, LongType(), False) for k in totals]
    )
    return spark.createDataFrame([tuple(totals.values())], schema)
