"""Temporal operators: as-of join, range join, sessionization (batch).

Spark has no native as-of/range join; these are the scale-correct
compositions (SURVEY.md section 7.4, pyspark guide "Common OLAP
patterns"):

- **as-of join** -- union the two time-tagged streams and take the last
  qualifying row per key via a running window. One shuffle on the key,
  no per-group pandas, no point-in-time cross join.
- **range join** -- bucketize the range key and equi-join on bucket
  (+/- 1 bucket), then filter the exact predicate. Turns an O(n*m)
  theta join into an equi-join Catalyst can hash-partition; bucket
  width trades shuffle fan-out vs post-filter selectivity.
- **sessionization** -- lag + gap>threshold cumsum, the standard
  window-function formulation (streaming's session_window is the same
  semantics; see streaming module).

DuckDB oracles use its native ASOF JOIN / theta join / window functions,
so the compositions are verified against independent implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import (
    FINITE_VALUE_SQL,
    finite_values,
    load_table,
)

RANGE_WINDOW_S = 300  # range-join predicate: events within 5 minutes
SESSION_GAP_MIN = 30


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row, the latest right row with matching key and
    right_time <= left_time (ties on right_time resolved upstream).
    Left rows keep all their columns; ``value_cols`` arrive from the
    right (null when no qualifying right row -- LEFT ASOF semantics).

    Union-tag-window formulation: right rows sort before left rows at
    equal times (inclusive semantics), then ``last(ignorenulls)``
    carries the latest right values forward. Cost: one hash exchange on
    the key + per-partition sort -- the same as any window, linear at
    100 TB, and AQE-skew-splittable.
    """
    left_cols = left.columns
    # the right row travels as ONE struct: carrying each value column
    # independently would backfill a NULL field of the latest row from
    # an OLDER row, mixing fields of different right rows (ASOF must
    # return the latest row as-is, nulls included)
    r = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__kind"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        F.struct(*[F.col(c) for c in value_cols]).alias("__rrow"),
    )
    l = left.select(
        F.col(left_key).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__kind"),
        *left_cols,
        F.lit(None)
        .cast(
            "struct<"
            + ", ".join(
                f"{c}: {right.schema[c].dataType.simpleString()}" for c in value_cols
            )
            + ">"
        )
        .alias("__rrow"),
    )
    w = (
        W.partitionBy("__k")
        .orderBy("__t", "__kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = r.unionByName(l).select(
        "__kind",
        *left_cols,
        F.last("__rrow", ignorenulls=True).over(w).alias("__rrow"),
    )
    return (
        carried.filter(F.col("__kind") == 1)
        .select(*left_cols, *[F.col(f"__rrow.{c}").alias(c) for c in value_cols])
    )


@query(
    "asof_join_last_order",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.last_orderkey
    FROM events e
    ASOF LEFT JOIN o2 o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
    doc="As-of join: each event picks the user's most recent order at or "
    "before the event time (orders deduped to max orderkey per "
    "(custkey, date) so ties are deterministic). Union+window "
    "composition vs DuckDB's native ASOF JOIN.",
)
def q_asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    out = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["last_orderkey"],
    )
    return out.select("event_id", "user_id", "last_orderkey").orderBy("event_id")


@query(
    "range_join_bucketed",
    oracle=f"""
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id > a.event_id
     AND abs(epoch_us(b.ts) - epoch_us(a.ts)) < {RANGE_WINDOW_S} * 1000000
    GROUP BY a.user_id
    ORDER BY a.user_id
    """,
    doc="Range join (event pairs within 5 minutes per user): bucketize "
    "time into 5-minute cells, explode each left row to its cell +/- 1, "
    "equi-join on (user, cell), then exact-filter. The theta join "
    "becomes hash-partitionable; oracle is DuckDB's plain theta join.",
)
def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    bucket_us = RANGE_WINDOW_S * 1_000_000
    a = ev.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("us").alias("us_a"),
        F.explode(
            F.array(
                (F.col("us") / bucket_us).cast("long") - 1,
                (F.col("us") / bucket_us).cast("long"),
                (F.col("us") / bucket_us).cast("long") + 1,
            )
        ).alias("cell"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("us").alias("us_b"),
        (F.col("us") / bucket_us).cast("long").alias("cell"),
    )
    return (
        # both sides are the fact stream: merge-hinted self-join
        a.hint("merge").join(b.hint("merge"), ["user_id", "cell"])
        .filter(
            (F.col("id_b") > F.col("id_a"))
            & (F.abs(F.col("us_b") - F.col("us_a")) < bucket_us)
        )
        # no dedup needed: b carries exactly one cell and a's three
        # exploded cells are distinct, so each (id_a, id_b) pair can
        # match at most once -- a dropDuplicates here is a full extra
        # shuffle of the join output for no semantic effect
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@query(
    "sessionize_batch",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                       > {SESSION_GAP_MIN} * 60 * 1000000
                   OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    doc="Batch sessionization: lag + gap>30min cumsum -> session ids. "
    "Same semantics as streaming session_window; one exchange on "
    "user_id.",
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    # tiebreak on event_id: a ROWS cumsum over ts alone is
    # nondeterministic for duplicate (user_id, ts) pairs
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "events_time_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(date_trunc('day', ts)) = 0
                THEN strftime(date_trunc('day', ts), '%Y-%m-%d') END AS day,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                THEN strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') END AS hour,
           CAST(GROUPING(date_trunc('day', ts)) * 2
                + GROUPING(date_trunc('hour', ts)) AS BIGINT) AS lvl,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events WHERE (value IS NULL OR isfinite(value))
    GROUP BY GROUPING SETS ((date_trunc('day', ts), date_trunc('hour', ts)),
                            (date_trunc('day', ts)), ())
    HAVING COUNT(*) > 0
    ORDER BY lvl, day, hour
    """,
    doc="Time-hierarchy rollup over the events hypertable (the "
    "TimescaleDB continuous-aggregate shape): hourly, daily, and "
    "grand-total aggregates in ONE pass via GROUPING SETS on "
    "date_trunc buckets -- Spark expands the sets map-side, so the "
    "fact scans once and each grain is a partial+final agg. At 100 TB "
    "the coarse grains are near-free riders on the hourly shuffle; "
    "the incremental-refresh variant is stream_tumbling_agg.",
)
def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(load_table(spark, sf_dir, "events"))
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    rolled = (
        ev.select(day.alias("d"), hour.alias("h"), "value")
        .groupingSets(
            [["d", "h"], ["d"], []],
            F.col("d"),
            F.col("h"),
        )
        .agg(
            (F.grouping("d") * 2 + F.grouping("h")).alias("lvl"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return rolled.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "lvl",
        "n",
        "sum_value",
    ).orderBy("lvl", "day", "hour")


def scd2_intervals(events: DataFrame) -> DataFrame:
    """SCD2 validity intervals ``(user_id, state, valid_from, valid_to,
    version, event_id)`` over ``(user_id, event_type, ts, event_id)``
    events, ordered by ``(ts, event_id)``. The batch build and both
    streaming twins (streaming.scd2, stream_pit_enrich) call it."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        "event_id",
    )


@query(
    "scd2_user_state",
    oracle="""
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, version
    """,
    doc="SCD type-2 history build: each user's event stream becomes "
    "versioned validity intervals [valid_from, valid_to) via lead() "
    "over (user, time) -- valid_to NULL marks the current version. "
    "One shuffle on user_id, windows parallel across users (the "
    "reference has no temporal modeling at all; this is the warehouse "
    "dimension-versioning op its OUT stream cannot express). At "
    "100 TB the history table is maintained incrementally: new events "
    "close only their key's open interval via foreachBatch MERGE "
    "(stream_foreach_batch_sink shows the mechanism), never by "
    "rebuilding -- ties broken by event_id keep the build "
    "deterministic under replays.",
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(ev).drop("event_id").orderBy("user_id", "version")


def ohlc_aggs() -> list:
    """The OHLC candle aggregates ``n, open, high, low, close`` over
    ``(ts, event_id, value)`` rows, for an hour key (batch) or a
    tumbling window (streaming)."""
    # Zero-padded string key orders (ts, event_id) identically on both
    # engines; the VALUE itself is the final struct-ordering component
    # because even this key can tie -- a replayed event_id carrying a
    # corrected value -- and the engines' native tie rules differ
    # (Spark max_by takes the LAST max, DuckDB arg_max the FIRST).
    # Contract: among same-key conflicts, open resolves to the SMALLER
    # value, close to the LARGER, and NULL-valued duplicates lose the
    # tie (their ordering slot is +-infinity, which finite ingestion
    # guarantees no real measurement occupies). min/max over a struct
    # is lexicographic and stays a mergeable four-scalar state.
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
    return [
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(open_s).getField("v"), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max(close_s).getField("v"), 4).alias("close"),
    ]


@query(
    "events_ohlc_hourly",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
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
    GROUP BY event_type, date_trunc('hour', ts)
    ORDER BY event_type, hour
    """,
    doc="OHLC downsampling (the candlestick resample every time-series "
    "store ships): per (series, hour) bucket -- first value (open), "
    "max (high), min (low), last value (close), row count. ONE "
    "map-side-combinable aggregate: open/close are struct-min/max on "
    "((ts, event_id) key, value) ordering structs, so no window pass and no "
    "per-bucket sort; state is four scalars per bucket however many "
    "events the hour holds. The hour key is emitted as a formatted "
    "string so both engines hash identical values.",
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(load_table(spark, sf_dir, "events"))
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(*ohlc_aggs())
        .select(
            "event_type",
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("event_type", "hour")
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER w AS valid_to,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
      FROM events WHERE event_type <> 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    f AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id,
           strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           d.state AS state_at_purchase,
           d.version AS state_version
    FROM f LEFT JOIN dim d
      ON d.user_id = f.user_id AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    ORDER BY event_id
    """,
    doc="POINT-IN-TIME join against the SCD2 dimension (the "
    "feature-store correctness join: 'what state was this user in at "
    "purchase time' -- training labels must see features as of the "
    "event, never the future). The SCD2 intervals are the "
    "scd2_user_state build over non-purchase events; the Spark side "
    "does NOT run the interval range join the oracle states -- it "
    "unions facts with dimension starts and carries the latest state "
    "forward per user with ONE ordered window (dims sort before facts "
    "at equal timestamps, so a state change at the purchase instant "
    "counts; duplicate-timestamp dim versions collapse to the highest, "
    "exactly the zero-width-interval semantics). One shuffle on "
    "user_id, windows parallel across users -- the asof-join dataflow, "
    "which at 100 TB beats an interval join outright (no range-key "
    "explosion, no per-row interval probe). Purchases before any "
    "state row surface with NULL state, not dropped.",
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vw = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            "ts",
            F.col("event_type").alias("state"),
            "event_id",
        )
        .withColumn("version", F.row_number().over(vw).cast("long"))
        .select(
            "user_id", "ts", "state", "version",
            F.lit(None).cast("long").alias("fact_id"),
            F.lit(1).alias("is_dim"),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("long").alias("version"),
        F.col("event_id").alias("fact_id"),
        F.lit(0).alias("is_dim"),
    )
    # dims first at equal ts (a state set at the purchase instant
    # counts); among duplicate-ts dims the highest version is carried
    cw = (
        W.partitionBy("user_id")
        .orderBy("ts", F.col("is_dim").desc(), "version", "fact_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = dim.unionByName(facts).select(
        "user_id",
        "ts",
        "fact_id",
        "is_dim",
        F.last("state", ignorenulls=True).over(cw).alias("state_at_purchase"),
        F.last("version", ignorenulls=True).over(cw).alias("state_version"),
    )
    return (
        carried.filter(F.col("is_dim") == 0)
        .select(
            F.col("fact_id").alias("event_id"),
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "state_at_purchase",
            "state_version",
        )
        .orderBy("event_id")
    )
