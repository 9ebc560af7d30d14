"""Streaming joins: stream-static enrichment and stream-stream joins.

Completes the Structured Streaming surface (streaming/windows.py covers
windows/watermarks/stateful ops). Oracles are batch-equivalent SQL over
the same events table -- the incremental-execution guarantee under test,
as in the rest of the streaming module.

Scale notes:

- **stream-static**: the static dim is re-broadcast per micro-batch; no
  state store involvement. The 100 TB form is a broadcast (or Delta
  snapshot) dim join against a Kafka stream -- identical dataflow.
- **stream-stream**: both sides buffer in the state store; the
  watermark + time-range predicate bound how long rows wait for a
  match, which is what keeps state finite at production rates. Without
  the time bound, Spark (correctly) refuses the inner join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from os___mapreduceframework_spark.operators.temporal import scd2_intervals
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import load_table, valid_event_times
from os___mapreduceframework_spark.streaming.windows import (
    events_stream,
    run_to_completion,
)


@query(
    "stream_static_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
      AND e.ts >= TIMESTAMP '1990-01-01 00:00:00' AND e.ts < TIMESTAMP '2090-01-01 00:00:00'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Stream-static join: purchase events enriched with the customer "
    "dimension (broadcast per micro-batch, no state store), aggregated "
    "by market segment. Oracle = the batch join.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    return run_to_completion(agg, "complete").orderBy("c_mktsegment")


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.ts >= TIMESTAMP '1990-01-01 00:00:00' AND v.ts < TIMESTAMP '2090-01-01 00:00:00'
      AND p.ts >= TIMESTAMP '1990-01-01 00:00:00' AND p.ts < TIMESTAMP '2090-01-01 00:00:00'
    ORDER BY v.user_id, view_id, purchase_id
    """,
    doc="Stream-stream inner join with event-time bound: each view "
    "matched to the same user's purchases within the following hour. "
    "Watermarks on both sides + the time-range predicate let Spark "
    "evict buffered rows from the state store once no future match is "
    "possible -- the only formulation with finite state at 100 TB "
    "rates. Oracle = the batch theta join.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
    return run_to_completion(joined, "append").orderBy(
        "user_id", "view_id", "purchase_id"
    )


@query(
    "stream_stream_left_outer",
    oracle="""
    WITH mx AS (
      -- Spark's global watermark is the MIN over both inputs of
      -- (that side's own max event time - 2h); each side only sees its
      -- filtered stream, so the overall corpus max (which may be a
      -- click/error event) is NOT the anchor
      SELECT LEAST(
        (SELECT MAX(ts) FROM events WHERE event_type = 'view' AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'),
        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase' AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00')) AS m
    ),
    v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
          FROM events WHERE event_type = 'view' AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase' AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'),
    matched AS (
      SELECT v.user_id, v.view_id, p.purchase_id
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
      SELECT v.user_id, v.view_id, NULL::BIGINT AS purchase_id
      FROM v, mx
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = v.user_id
          AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR)
        AND v.v_ts + INTERVAL 1 HOUR < mx.m - INTERVAL 2 HOUR
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    ORDER BY user_id, view_id, purchase_id
    """,
    doc="Stream-stream LEFT OUTER join: views matched to the same "
    "user's purchases within the following hour; a view with no match "
    "emits null-extended ONCE the watermark proves no future purchase "
    "can match it. Views too close to the end of input stay withheld "
    "(their match window is still open at the final watermark) -- the "
    "oracle reproduces that cutoff explicitly, as in "
    "stream_tumbling_append. State eviction semantics identical to the "
    "inner form; only the null-emission path differs.",
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
    return run_to_completion(joined, "append").orderBy(
        "user_id", "view_id", "purchase_id"
    )


@query(
    "stream_pit_enrich",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER w AS valid_to,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
      FROM events WHERE event_type <> 'purchase' AND ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT f.event_id, f.user_id,
           strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           d.state AS state_at_purchase,
           d.version AS state_version
    FROM events f JOIN dim d
      ON d.user_id = f.user_id AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    WHERE f.event_type = 'purchase'
      AND f.ts >= TIMESTAMP '1990-01-01 00:00:00' AND f.ts < TIMESTAMP '2090-01-01 00:00:00'
    ORDER BY event_id
    """,
    doc="STREAMING point-in-time enrichment: the purchase stream joins "
    "the static SCD2 dimension on user equality PLUS the validity "
    "interval (stream-static joins are stateless -- the dimension "
    "resolves per micro-batch, so a dimension refresh between batches "
    "is picked up automatically, which is exactly how a feature store "
    "serves training-time-correct features online). Equi key user_id "
    "with the interval as a residual condition; inner join, so "
    "pre-state purchases drop (the batch scd2_point_in_time_join keeps "
    "them as NULLs -- both contracts stated). Oracle = the batch "
    "interval join.",
)
def q_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the dim feed derives from the same event source as the fact
    # stream: the temporal-validity ingestion contract applies to both
    # halves or version numbers drift between them
    ev_static = valid_event_times(load_table(spark, sf_dir, "events"))
    dim = scd2_intervals(
        ev_static.filter(F.col("event_type") != "purchase")
    ).select(
        F.col("user_id").alias("d_user"), "valid_from", "valid_to", "state", "version"
    )
    facts = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = facts.join(
        F.broadcast(dim),
        (facts["user_id"] == dim["d_user"])
        & (dim["valid_from"] <= facts["ts"])
        & (dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"])),
    )
    out = run_to_completion(joined, "append")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("state").alias("state_at_purchase"),
        F.col("version").alias("state_version"),
    ).orderBy("event_id")
