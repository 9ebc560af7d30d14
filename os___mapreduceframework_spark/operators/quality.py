"""Data-quality and time-series pipeline operators (charter scope).

A 100 TB training pipeline runs these continuously: referential
integrity audits (did the join keys survive ingestion?), column
profiling (the Deequ/Great-Expectations statistics gate), value
distribution histograms (drift detection input), and time-series
resample + forward-fill (feature tables from event streams). The
reference has no data-quality surface (its one dataflow is
Search.cpp:84-125); these are engine-level extensions like dedup/ANN.

Scale notes:

- integrity audit: anti-join counts -- each is one shuffle on the FK,
  with the dim side broadcast when it fits; count-only output, so
  nothing materializes.
- profiling: single-pass aggregate per table (count/distinct/min/max/
  null per column as parallel partial aggregates in ONE scan -- the
  exchange carries one wide row per partition, the Deequ design).
- histogram: scan-local bin expression + count per bin; bin count is
  fixed, so the aggregate is bounded regardless of corpus size.
- gap-fill: per-key hourly grid via sequence()+explode (rows = keys x
  span, generated, not shuffled), one left join against the hourly
  partial aggregate, forward-fill as last(ignorenulls) over an
  ordered window per key -- the standard distributed resample; a
  single global series would serialize, per-key stays parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import (
    FINITE_VALUE_SQL,
    VALID_TS_SQL,
    finite_value_col,
    finite_values,
    load_table,
    ts_bounds_us,
)


@query(
    "quality_fk_orphans",
    oracle="""
    SELECT 'orders->customer' AS fk, COUNT(*) AS n_orphans
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'events->customer(user)' AS fk, COUNT(*) AS n_orphans
    FROM events e WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    ORDER BY fk
    """,
    doc="Referential-integrity audit: orphan counts per FK edge via "
    "anti-joins (orders->customer, lineitem->orders, events->customer). "
    "Zero rows orphaned is the expected production result; the query "
    "is the gate that proves it. Each edge is one anti-join shuffle "
    "with count-only output.",
)
def q_quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def orphans(name: str, child: DataFrame, ck, parent: DataFrame, pk) -> DataFrame:
        # fully lazy: a single-row agg over the anti-join, so all three FK
        # edges run as one job at action time (no eager .count() at
        # query-construction time, and the edges parallelize)
        return (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("fk"), "n_orphans")
        )

    return (
        orphans("orders->customer", orders, "o_custkey", customer, "c_custkey")
        .unionByName(
            # the parent side here is a FACT (orders): merge-hint so the
            # anti-join never broadcasts it (customer, a dim, may)
            orphans(
                "lineitem->orders",
                lineitem,
                "l_orderkey",
                orders.hint("merge"),
                "o_orderkey",
            )
        )
        .unionByName(
            orphans("events->customer(user)", events, "user_id", customer, "c_custkey")
        )
        .orderBy("fk")
    )


_PROFILE_COLS = ("o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority")


@query(
    "quality_profile_orders",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS n FROM orders)
    SELECT 'o_custkey' AS col,
           CAST(ROUND(1.0 - COUNT(o_custkey)::DOUBLE / n, 4) AS DOUBLE) AS null_frac,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_v,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_v
    FROM orders, t GROUP BY n
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(ROUND(1.0 - COUNT(o_orderpriority)::DOUBLE / n, 4) AS DOUBLE),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders, t GROUP BY n
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(ROUND(1.0 - COUNT(o_orderstatus)::DOUBLE / n, 4) AS DOUBLE),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders, t GROUP BY n
    UNION ALL
    SELECT 'o_totalprice',
           CAST(ROUND(1.0 - COUNT(o_totalprice)::DOUBLE / n, 4) AS DOUBLE),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS VARCHAR),
           CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders, t GROUP BY n
    ORDER BY col
    """,
    doc="Column profiling (the Deequ-style statistics gate): null "
    "fraction, distinct count, min, max per profiled column, computed "
    "as parallel partial aggregates in ONE scan of the table -- the "
    "exchange carries one wide row per partition, then the wide row "
    "unpivots to (col, stats) output rows. Min/max stringified so "
    "heterogeneous column types share one schema.",
)
def q_quality_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    # the profile of an EMPTY table is empty (null_frac is 0/0): drop
    # the wide row rather than emit undefined stats -- mirrors the
    # oracle's GROUP BY n over zero joined rows
    wide = orders.agg(*aggs).filter(F.col("__n") > 0)
    per_col = [
        F.struct(
            F.lit(c).alias("col"),
            F.round(1.0 - F.col(f"{c}__nn") / F.col("__n"), 4)
            .cast("double")
            .alias("null_frac"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_v"),
            F.col(f"{c}__max").alias("max_v"),
        )
        for c in _PROFILE_COLS
    ]
    return (
        wide.select(F.explode(F.array(*per_col)).alias("s"))
        .select("s.col", "s.null_frac", "s.n_distinct", "s.min_v", "s.max_v")
        .orderBy("col")
    )


_HIST_BINS = 20
_HIST_LO, _HIST_HI = 0.0, 1000.0  # events.value domain


@query(
    "quality_value_histogram",
    oracle=f"""
    SELECT LEAST(GREATEST(CAST(FLOOR((value - {_HIST_LO})
             / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})) AS BIGINT), 0),
             {_HIST_BINS - 1}) AS bin,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_v
    FROM events WHERE {FINITE_VALUE_SQL}
    GROUP BY 1
    ORDER BY bin
    """,
    doc="Equi-width value histogram over events.value (drift-detection "
    "input): scan-local bin expression, fixed bin count, so the "
    "aggregate state is bounded regardless of corpus size. floor-based "
    "binning instead of width_bucket keeps the formula portable across "
    "engines (DuckDB lacks width_bucket). Non-finite measurements are "
    "dropped at ingestion (sources.finite_values contract): CAST(NaN "
    "AS BIGINT) is an error, not a bin.",
)
def q_quality_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = finite_values(load_table(spark, sf_dir, "events"))
    step = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("value") - _HIST_LO) / step).cast("bigint"), F.lit(0)
        ),
        F.lit(_HIST_BINS - 1),
    ).alias("bin")
    return (
        events.groupBy(bin_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_v"),
        )
        .orderBy("bin")
    )


def forward_fill_hourly(hourly: DataFrame) -> DataFrame:
    """``(user_id, hour, observed, v_filled)``: ``(user_id, hour, v)``
    rows on each user's hourly grid, ``v`` carried forward. Called by
    events_gap_fill and its twin stream_gap_fill_hourly."""
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = W.partitionBy("user_id").orderBy("hour").rowsBetween(W.unboundedPreceding, 0)
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
    "events_gap_fill",
    oracle="""
    WITH u AS (
      SELECT user_id,
             time_bucket(INTERVAL 1 HOUR, MIN(ts)) AS lo,
             time_bucket(INTERVAL 1 HOUR, MAX(ts)) AS hi
      FROM events WHERE user_id % 10 = 0 AND (value IS NULL OR isfinite(value))
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
      FROM events WHERE user_id % 10 = 0 AND (value IS NULL OR isfinite(value))
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
    doc="Time-series resample + forward-fill: per-user hourly grid "
    "(sequence+explode -- generated, not shuffled), left join of the "
    "hourly aggregate, last(ignorenulls) carries the latest observed "
    "value across gaps. Per-key windows keep the fill parallel; a "
    "global series would serialize. The feature-table primitive for "
    "event streams.",
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        finite_values(load_table(spark, sf_dir, "events"))
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", F.date_trunc("hour", "ts").alias("hour"), "value")
    )
    hourly = ev.groupBy("user_id", "hour").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("v")
    )
    return forward_fill_hourly(hourly)


@query(
    "quality_drift_l1",
    oracle=f"""
    WITH m AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
    ),
    b AS (
      SELECT CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END AS half,
             LEAST(GREATEST(CAST(FLOOR((value - {_HIST_LO})
               / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})) AS BIGINT), 0),
               {_HIST_BINS - 1}) AS bin
      FROM events, m WHERE {FINITE_VALUE_SQL}
    ),
    h AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::DOUBLE AS n0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1
      FROM b GROUP BY bin
    ),
    t AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM h)
    SELECT CAST(ROUND(SUM(ABS(n0 / t.t0 - n1 / t.t1)), 4) AS DOUBLE) AS l1
    FROM h, t
    """,
    doc="Distribution-drift detector: L1 distance between the "
    "value-histogram of the first and second time halves of the event "
    "stream (the continuous-monitoring companion to "
    "quality_value_histogram). Two scans (midpoint, then binned "
    "counts), fixed-size aggregate state, one scalar out -- the shape "
    "that runs daily on a 100 TB feed.",
)
def q_quality_drift_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # aggregate unix_micros directly: driver-side datetime.timestamp() would
    # reinterpret the wall-clock in the OS-local timezone, shifting the
    # midpoint vs the oracle's epoch_us on non-UTC hosts; memoized so the
    # bounds scan runs once per session, shared with retention/gap queries
    lo, hi = ts_bounds_us(spark, sf_dir, "events", "ts")
    mid = (lo + hi) // 2
    step = (_HIST_HI - _HIST_LO) / _HIST_BINS
    binned = finite_values(events).select(
        F.when(F.unix_micros("ts") < mid, 0).otherwise(1).alias("half"),
        F.least(
            F.greatest(
                F.floor((F.col("value") - _HIST_LO) / step).cast("bigint"),
                F.lit(0),
            ),
            F.lit(_HIST_BINS - 1),
        ).alias("bin"),
    )
    # one conditional-sum pass per bin (the per-half pivot is free in the
    # same aggregate), totals as a broadcast single row: 2 designed
    # shuffles instead of the naive groupBy-per-half + join chain
    h = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("double").alias("n1"),
    )
    t = h.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    return (
        h.crossJoin(F.broadcast(t))
        .agg(
            F.round(
                # try_divide: with every event in one half the other
                # total is 0 and the drift is undefined -- NULL, exactly
                # DuckDB's x/0 (ANSI Spark would error instead)
                F.sum(
                    F.abs(
                        F.try_divide(F.col("n0"), F.col("t0"))
                        - F.try_divide(F.col("n1"), F.col("t1"))
                    )
                ),
                4,
            )
            .cast("double")
            .alias("l1")
        )
    )


@query(
    "quality_drift_psi",
    oracle=f"""
    WITH m AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
    ),
    b AS (
      SELECT CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END AS half,
             LEAST(GREATEST(CAST(FLOOR((value - {_HIST_LO})
               / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})) AS BIGINT), 0),
               {_HIST_BINS - 1}) AS bin
      FROM events, m WHERE {FINITE_VALUE_SQL}
    ),
    h AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::DOUBLE AS n0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1
      FROM b GROUP BY bin
    ),
    t AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1, COUNT(*) AS nb FROM h),
    p AS (
      SELECT (n0 + 0.5) / (t.t0 + 0.5 * t.nb) AS p0,
             (n1 + 0.5) / (t.t1 + 0.5 * t.nb) AS p1
      FROM h, t
    )
    SELECT CAST(ROUND(SUM((p1 - p0) * LN(p1 / p0)), 4) AS DOUBLE) AS psi
    FROM p
    """,
    doc="Population Stability Index between the value distributions of "
    "the first and second time halves of the event stream -- the "
    "industry-standard drift score (sibling of quality_drift_l1; PSI "
    "weights tail shifts by the log-ratio, which L1 underreports). "
    "Identical plumbing: memoized corpus midpoint, one conditional-sum "
    "bin pass with both halves pivoted into the same aggregate, 1-row "
    "totals broadcast back. Laplace (+0.5) smoothing keeps empty bins "
    "finite and is applied identically in the oracle. Fixed-size state "
    "(bin count) regardless of corpus size -- the daily-monitoring "
    "shape at 100 TB.",
)
def q_quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    lo, hi = ts_bounds_us(spark, sf_dir, "events", "ts")
    mid = (lo + hi) // 2
    step = (_HIST_HI - _HIST_LO) / _HIST_BINS
    binned = finite_values(events).select(
        F.when(F.unix_micros("ts") < mid, 0).otherwise(1).alias("half"),
        F.least(
            F.greatest(
                F.floor((F.col("value") - _HIST_LO) / step).cast("bigint"),
                F.lit(0),
            ),
            F.lit(_HIST_BINS - 1),
        ).alias("bin"),
    )
    h = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("double").alias("n1"),
    )
    t = h.agg(
        F.sum("n0").alias("t0"),
        F.sum("n1").alias("t1"),
        F.count(F.lit(1)).alias("nb"),
    )
    p0 = (F.col("n0") + 0.5) / (F.col("t0") + 0.5 * F.col("nb"))
    p1 = (F.col("n1") + 0.5) / (F.col("t1") + 0.5 * F.col("nb"))
    return (
        h.crossJoin(F.broadcast(t))
        .agg(
            F.round(F.sum((p1 - p0) * F.log(p1 / p0)), 4)
            .cast("double")
            .alias("psi")
        )
    )


@query(
    "quality_quantile_sketch",
    oracle="""
    WITH l AS (SELECT COALESCE(source, '(null)') AS source,
                      length(text) AS len FROM documents),
    t AS (SELECT source AS gsource, len FROM l
          UNION ALL SELECT 'ALL', len FROM l),
    -- NULL lengths are excluded from the rank space entirely (the
    -- aggregate-percentile NULL-skipping semantics both engines share;
    -- ranking them would also hit the engines' opposite NULL sort
    -- defaults)
    r AS (SELECT gsource, len,
                 ROW_NUMBER() OVER (PARTITION BY gsource ORDER BY len) - 1
                   AS rn,
                 COUNT(*) OVER (PARTITION BY gsource) AS n
          FROM t WHERE len IS NOT NULL)
    SELECT gsource AS source,
           MIN(CASE WHEN rn = (50 * (n-1)) // 100 THEN len END) AS p50_disc,
           MIN(CASE WHEN rn = (90 * (n-1)) // 100 THEN len END) AS p90_disc,
           MIN(CASE WHEN rn = (99 * (n-1)) // 100 THEN len END) AS p99_disc,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM r GROUP BY gsource
    ORDER BY source
    """,
    doc="Mergeable quantile sketch rollup (the t-digest-style companion "
    "to vocab_hll_rollup): per-source and corpus-wide p50/p90/p99 of "
    "document length via percentile_approx (KLL-style mergeable "
    "fixed-size state -- the 100 TB path: the shuffle carries sketches, "
    "never the value set). The audit flags check the sketch's ACTUAL "
    "guarantee -- rank containment: the fraction of values strictly "
    "below / at-or-below the sketch's answer must bracket p (value "
    "tolerance is the wrong contract: the sketch returns a real element, "
    "so a distribution gap at the quantile makes value error unbounded "
    "while rank error stays tiny). Oracle hash-matches the exact "
    "interpolated percentiles + TRUE flags; ROLLUP computes both "
    "grouping levels in one pass.",
)
def q_quality_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # a NULL source is coalesced to a sentinel BEFORE the rollup and the
    # total row is named via grouping(): coalescing AFTER the rollup
    # would conflate the NULL-source group with the grand-total row
    # (duplicate 'ALL' keys fanning out the broadcast joins)
    lens = docs.select(
        F.coalesce("source", F.lit("(null)")).alias("source"),
        F.length("text").alias("len"),
    )
    pcts = ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
    aggs = []
    for p, tag in pcts:
        aggs.append(F.expr(f"percentile_approx(len, {p}, 10000)").alias(f"{tag}_a"))
    stats = (
        lens.rollup("source")
        .agg(*aggs, F.grouping("source").alias("__g"))
        .select(
            F.when(F.col("__g") == 1, F.lit("ALL"))
            .otherwise(F.col("source"))
            .alias("gsource"),
            "*",
        )
        .drop("source", "__g")
    )
    # rank audit: every len row participates in its own source group AND
    # the ALL group (explode doubles the scan rows, still one pass);
    # stats is #groups rows -> broadcast
    tagged = lens.select(
        F.explode(F.array("source", F.lit("ALL"))).alias("gsource"), "len"
    )
    # exact companions are DISCRETE order statistics -- the element at
    # integer rank (p*100 * (n-1)) div 100, selected with pure integer
    # arithmetic. Interpolated percentiles (Spark percentile vs DuckDB
    # quantile_cont) compute the same formula in different expression
    # orders, so the last double ulp can differ and ROUND amplifies it
    # at .5 boundaries; an order statistic is an actual element, exact
    # on both engines at any scale.
    ranked = tagged.filter(F.col("len").isNotNull()).select(
        "gsource",
        "len",
        (F.row_number().over(W.partitionBy("gsource").orderBy("len")) - 1).alias("__rn"),
        F.count(F.lit(1)).over(W.partitionBy("gsource")).alias("__n"),
    )
    disc_aggs = [
        F.min(
            F.when(
                F.expr(f"__rn = ({int(p * 100)} * (__n - 1)) div 100"),
                F.col("len"),
            )
        ).alias(f"{tag}_disc")
        for p, tag in pcts
    ]
    fr = [
        f
        for _, tag in pcts
        for f in (
            F.avg((F.col("len") < F.col(f"{tag}_a")).cast("double")).alias(f"{tag}_lt"),
            F.avg((F.col("len") <= F.col(f"{tag}_a")).cast("double")).alias(f"{tag}_le"),
        )
    ]
    # ONE grouped aggregate computes the rank-audit fractions AND the
    # discrete quantiles: it sits directly above the rank window on the
    # same key, so the window's gsource exchange is the only shuffle
    # this whole stage pays (a separate fracs aggregate would let
    # Catalyst prune the window from its branch and pay a second
    # exchange). NULL lens were avg-skipped either way (NULL
    # comparisons), so ranked's NULL filter changes nothing here.
    fracs = (
        ranked.join(F.broadcast(stats), "gsource")
        .groupBy("gsource")
        .agg(*fr, *disc_aggs)
    )
    eps = 0.005  # rank-error bound: n/accuracy <= 1e-4, plus FP slack
    out = [F.col("gsource").alias("source")]
    flags = []
    for p, tag in pcts:
        out.append(F.col(f"{tag}_disc"))
        flags.append(
            (
                (F.col(f"{tag}_lt") <= p + eps) & (F.col(f"{tag}_le") >= p - eps)
            ).alias(f"{tag}_ok")
        )
    return (
        stats.join(F.broadcast(fracs), "gsource")
        .select(*out, *flags)
        .orderBy("source")
    )


@query(
    "events_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT user_id,
             t_view IS NOT NULL AS s1,
             t_view IS NOT NULL AND t_click > t_view AS s2,
             t_view IS NOT NULL AND t_click > t_view
               AND t_purchase > t_click AS s3
      FROM f
    )
    SELECT 1 AS step, 'view' AS name, COUNT(*) FILTER (s1) AS n_users FROM s
    UNION ALL
    SELECT 2, 'view>click', COUNT(*) FILTER (s2) FROM s
    UNION ALL
    SELECT 3, 'view>click>purchase', COUNT(*) FILTER (s3) FROM s
    ORDER BY step
    """,
    doc="Conversion funnel (view -> click -> purchase, ordered by each "
    "user's FIRST occurrence of each step): one conditional min-per-"
    "step aggregate per user, then step predicates -- a single shuffle "
    "on user_id regardless of funnel depth, the standard formulation "
    "(per-step joins would shuffle once per step). Null comparisons "
    "make later steps false when a step is missing.",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    counts = f.agg(
        F.count(F.when(s1, 1)).alias("n1"),
        F.count(F.when(s2, 1)).alias("n2"),
        F.count(F.when(s3, 1)).alias("n3"),
    )
    steps = F.array(
        F.struct(F.lit(1).alias("step"), F.lit("view").alias("name"),
                 F.col("n1").alias("n_users")),
        F.struct(F.lit(2).alias("step"), F.lit("view>click").alias("name"),
                 F.col("n2").alias("n_users")),
        F.struct(F.lit(3).alias("step"), F.lit("view>click>purchase").alias("name"),
                 F.col("n3").alias("n_users")),
    )
    return (
        counts.select(F.explode(steps).alias("s"))
        .select("s.step", "s.name", "s.n_users")
        .orderBy("step")
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH base AS (
      SELECT user_id,
             time_bucket(INTERVAL 7 DAYS, ts,
                         (SELECT MIN(ts) FROM events)) AS week
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(week) AS cohort FROM base GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, week FROM base)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort, a.week) / 7 AS BIGINT) AS week_n,
           COUNT(*) AS n_users
    FROM firsts f JOIN active a USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_week, week_n
    """,
    doc="Retention cohorts: users grouped by first-activity week, "
    "counted in each subsequent active week. Two aggregates on user_id "
    "(first week, distinct active weeks -- same shuffle key, Catalyst "
    "reuses the partitioning) + one join per user, never per event. "
    "Weeks anchored to the corpus MIN(ts) so both engines bucket "
    "identically.",
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # anchor weeks arithmetically at the corpus MIN(ts): F.window(startTime=)
    # only accepts literal duration-string offsets, and integer epoch math is
    # exact (no double rounding) and timezone-free (unix_micros is UTC on
    # both engines, unlike driver-side datetime.timestamp())
    origin_us = ts_bounds_us(spark, sf_dir, "events", "ts")[0]
    week_us = 7 * 86400 * 1_000_000
    delta = F.unix_micros("ts") - F.lit(origin_us)
    week = F.timestamp_micros(F.lit(origin_us) + delta - delta % F.lit(week_us))
    base = ev.select("user_id", week.alias("week"))
    firsts = base.groupBy("user_id").agg(F.min("week").alias("cohort"))
    active = base.distinct()
    return (
        firsts.join(active, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_n"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_n")
    )


@query(
    "quality_rules_check",
    oracle="""
    WITH p AS (
      SELECT COUNT(*) AS n,
             COUNT(o_custkey) AS nn_cust,
             COUNT(DISTINCT o_orderstatus) AS nd_status,
             MIN(o_totalprice) AS min_price
      FROM orders
    )
    SELECT 'o_custkey_complete' AS rule,
           nn_cust = n AS passed FROM p
    UNION ALL
    SELECT 'o_orderstatus_domain', nd_status <= 3 FROM p
    UNION ALL
    SELECT 'o_totalprice_positive', min_price > 0 FROM p
    UNION ALL
    SELECT 'table_nonempty', n > 0 FROM p
    ORDER BY rule
    """,
    doc="Declarative data-quality RULES gate (the Deequ/Great-"
    "Expectations check shape): completeness, domain-cardinality, "
    "range, and non-emptiness rules all evaluated from ONE single-scan "
    "aggregate row, unpivoted to (rule, passed) verdicts. The "
    "production CI gate for a 100 TB ingest: one pass, fixed-size "
    "state, rules are data, not code.",
)
def q_quality_rules_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_totalprice").alias("min_price"),
    )
    rules = F.array(
        F.struct(
            F.lit("o_custkey_complete").alias("rule"),
            (F.col("nn_cust") == F.col("n")).alias("passed"),
        ),
        F.struct(
            F.lit("o_orderstatus_domain").alias("rule"),
            (F.col("nd_status") <= 3).alias("passed"),
        ),
        F.struct(
            F.lit("o_totalprice_positive").alias("rule"),
            (F.col("min_price") > 0).alias("passed"),
        ),
        F.struct(
            F.lit("table_nonempty").alias("rule"),
            (F.col("n") > 0).alias("passed"),
        ),
    )
    return (
        p.select(F.explode(rules).alias("r"))
        .select("r.rule", "r.passed")
        .orderBy("rule")
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type,
             AVG(value) AS mu,
             STDDEV_SAMP(value) AS sigma,
             COUNT(*) AS n
      FROM events WHERE (value IS NULL OR isfinite(value))
      GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(s.n AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (ABS(e.value - s.mu) > 3 * s.sigma) AS BIGINT)
             AS n_anomalies
    FROM (SELECT * FROM events
          WHERE (value IS NULL OR isfinite(value))) e
    JOIN s USING (event_type)
    GROUP BY e.event_type, s.n
    ORDER BY event_type
    """,
    doc="Z-score anomaly detection per event class: per-class mean/"
    "stddev from one aggregate (rows = #classes, broadcast back), then "
    "a second scan flags |value - mu| > 3 sigma. The classic two-pass "
    "monitoring shape -- both passes are full scans but the state and "
    "the join side are class-cardinality, so it runs on any volume; "
    "counts (not flagged rows) come back, keeping output bounded.",
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(load_table(spark, sf_dir, "events"))
    s = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.count(
                F.when(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"), 1)
            ).alias("n_anomalies")
        )
        .select("event_type", F.col("n").cast("bigint"), "n_anomalies")
        .orderBy("event_type")
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN struct_pack(t := ts, c := event_type) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events
    ),
    attributed AS (
      SELECT CASE WHEN touch IS NOT NULL
                   AND touch.t >= ts - INTERVAL 1 HOUR THEN touch.c
                  ELSE 'none' END AS channel,
             -- nullify (not drop) garbage measurements: the row still
             -- counts as a purchase and still anchors touch windows
             (CASE WHEN isfinite(value) THEN value END) AS value
      FROM w WHERE event_type = 'purchase'
    )
    SELECT channel, COUNT(*) AS n_purchases,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS attributed_value
    FROM attributed
    GROUP BY channel
    ORDER BY channel
    """,
    doc="Last-touch marketing attribution: each purchase is credited to "
    "the user's most recent click/view within the preceding hour (else "
    "'none'). One window pass per user (hash-partitioned on user_id -- "
    "the same single-shuffle layout as sessionize/funnel), attribution "
    "is a scan-local expression over the carried struct, rollup is a "
    "tiny channel aggregate. DECIMAL money sums.",
)
def q_events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("click", "view"),
            F.struct(F.col("ts").alias("t"), F.col("event_type").alias("c")),
        ),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("touch").isNotNull()
                & (F.col("touch.t") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
                F.col("touch.c"),
            )
            .otherwise(F.lit("none"))
            .alias("channel"),
            finite_value_col().alias("value"),
        )
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("channel")
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
    doc="Markov transition counts over per-user event sequences "
    "(sequence mining: which step follows which). One hash-partitioned "
    "window on user_id (the funnel/sessionize layout, shuffle reused "
    "if composed), then a types x types aggregate whose state is "
    "constant-size. The input to next-event prediction and "
    "anomalous-flow detection.",
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


_MI_BINS = 16


@query(
    "quality_mutual_information",
    oracle=f"""
    WITH b AS (
      SELECT event_type AS x,
             LEAST(GREATEST(CAST(FLOOR((value - {_HIST_LO})
               / (({_HIST_HI} - {_HIST_LO}) / {_MI_BINS})) AS BIGINT), 0),
               {_MI_BINS - 1}) AS y
      FROM events WHERE {FINITE_VALUE_SQL}
    ),
    j AS (SELECT x, y, COUNT(*)::DOUBLE AS n FROM b GROUP BY x, y),
    -- marginals as window sums over the joint, NOT a USING join: an
    -- equi-join drops NULL-category cells (NULL <> NULL), silently
    -- excluding rows with a missing label/value from the statistic,
    -- while window partitioning groups NULLs together in both engines
    cells AS (
      SELECT n,
             SUM(n) OVER (PARTITION BY x) AS nx,
             SUM(n) OVER (PARTITION BY y) AS ny,
             SUM(n) OVER () AS nt
      FROM j
    )
    SELECT
      CAST(ROUND(SUM(n / nt * LN(n * nt / (nx * ny))), 4) AS DOUBLE)
        AS mi_nats,
      CAST(ROUND(SUM(n / nt * LN(n * nt / (nx * ny))) /
                 SQRT(SUM(n / nt * LN(nt / nx))
                      * SUM(n / nt * LN(nt / ny))), 4) AS DOUBLE) AS nmi,
      CAST(ROUND(SUM(n / nt * LN(nt / nx)), 4) AS DOUBLE) AS h_event_type,
      CAST(ROUND(SUM(n / nt * LN(nt / ny)), 4) AS DOUBLE) AS h_value_bin
    FROM cells
    """,
    doc="Mutual information I(event_type; value-bin) plus the two "
    "marginal entropies -- the feature-relevance statistic a training "
    "pipeline computes before keeping a label column. Joint counts are "
    "one hash aggregate whose state is #types x #bins cells (constant); "
    "marginals and totals come from window sums OVER THE JOINT (cell-"
    "count data) -- on BOTH engines, since a USING join would drop "
    "NULL-category cells -- and both entropies fold into the same "
    "final aggregate via sum_y n(x,y) = nx, so the corpus is scanned "
    "exactly once no matter the volume. nmi is the sqrt-normalized MI "
    "in [0,1]. Natural-log nats, rounded to 4 on both engines.",
)
def q_quality_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(load_table(spark, sf_dir, "events"))
    step = (_HIST_HI - _HIST_LO) / _MI_BINS
    b = ev.select(
        F.col("event_type").alias("x"),
        F.least(
            F.greatest(
                F.floor((F.col("value") - _HIST_LO) / step).cast("bigint"), F.lit(0)
            ),
            F.lit(_MI_BINS - 1),
        ).alias("y"),
    )
    j = b.groupBy("x", "y").agg(F.count(F.lit(1)).cast("double").alias("n"))
    # marginals as window sums over the joint (<= types x bins rows):
    # branching j into separate groupBy aggregates would recompute the
    # corpus scan once per branch -- windows keep ONE lineage
    cells = j.select(
        "n",
        F.sum("n").over(W.partitionBy("x")).alias("nx"),
        F.sum("n").over(W.partitionBy("y")).alias("ny"),
        F.sum("n").over(W.partitionBy()).alias("nt"),
    )
    p = F.col("n") / F.col("nt")
    return cells.agg(
        F.sum(
            p * F.log(F.col("n") * F.col("nt") / (F.col("nx") * F.col("ny")))
        ).alias("mi"),
        # sum_y n(x,y) = nx makes the cell-weighted log a marginal entropy
        F.sum(p * F.log(F.col("nt") / F.col("nx"))).alias("hx"),
        F.sum(p * F.log(F.col("nt") / F.col("ny"))).alias("hy"),
    ).select(
        F.round("mi", 4).cast("double").alias("mi_nats"),
        # try_divide: a single-cell joint has zero marginal entropy and
        # nmi is undefined (0/0) -- NULL on both engines, not an ANSI
        # error (degenerate-input contract, singleton-fixture sweep)
        F.round(F.try_divide(F.col("mi"), F.sqrt(F.col("hx") * F.col("hy"))), 4)
        .cast("double")
        .alias("nmi"),
        F.round("hx", 4).cast("double").alias("h_event_type"),
        F.round("hy", 4).cast("double").alias("h_value_bin"),
    )


_QB_PCTS = [i / 10 for i in range(1, 10)]  # decile boundaries


@query(
    "feature_quantile_bucketize",
    oracle=f"""
    WITH b AS (
      SELECT quantile_cont(value, {_QB_PCTS}) AS bs FROM events
      WHERE {FINITE_VALUE_SQL}
    )
    SELECT e.event_type,
           CAST(len(list_filter(b.bs, x -> x <= e.value)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(AVG(e.value), 4) AS DOUBLE) AS mean_v
    FROM (SELECT * FROM events WHERE {FINITE_VALUE_SQL}) e CROSS JOIN b
    GROUP BY e.event_type, 2
    ORDER BY event_type, bucket
    """,
    doc="Quantile discretization (the MLlib QuantileDiscretizer / "
    "feature-binning shape, exact): one aggregate computes the 9 "
    "interpolated decile boundaries of events.value, the boundary "
    "array broadcasts back into a second scan where each row's bucket "
    "is the count of boundaries <= value (a scan-local higher-order "
    "filter over a 9-element array -- no join, no sort), and a "
    "types x 10 aggregate summarizes each cell. Two passes over the "
    "corpus, state bounded by #types x 10; both engines interpolate "
    "percentiles identically so the bucketing is bit-for-bit.",
)
def q_feature_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(load_table(spark, sf_dir, "events"))
    pcts = ", ".join(str(p) for p in _QB_PCTS)
    bounds = ev.agg(F.expr(f"percentile(value, array({pcts}))").alias("bs"))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.expr("size(filter(bs, x -> x <= value))").cast("int").alias("bucket"),
            "value",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).cast("double").alias("mean_v"),
        )
        .orderBy("event_type", "bucket")
    )


_MZ_LOOKBACK = 20  # trailing rows per series
_MZ_MIN_N = 10  # minimum history before scoring


@query(
    "window_moving_zscore",
    oracle=f"""
    WITH w AS (
      SELECT event_type, value,
             AVG(value) OVER win AS mu,
             STDDEV_SAMP(value) OVER win AS sd,
             COUNT(*) OVER win AS n_hist
      FROM events
      WHERE {FINITE_VALUE_SQL}
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {_MZ_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           CAST(COUNT(*) FILTER (n_hist >= {_MZ_MIN_N}) AS BIGINT) AS n_scored,
           CAST(COUNT(*) FILTER (n_hist >= {_MZ_MIN_N}
                  AND ABS(value - mu) > 3 * sd) AS BIGINT) AS n_anomalies
    FROM w
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="ROLLING z-score anomaly detection (the streaming-monitoring "
    "sibling of the global events_anomaly_zscore): each event is "
    "scored against the trailing-20 window of ITS OWN series -- the "
    "baseline adapts to drift, which a global mean cannot. One "
    "hash-partitioned window per event_type (the sessionize/funnel "
    "layout; series sort in parallel), counts-only output so nothing "
    "row-scale leaves the executors. Rows with under 10 observations "
    "of history are unscored, not free passes.",
)
def q_window_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_values(load_table(spark, sf_dir, "events"))
    win = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_MZ_LOOKBACK, -1)
    )
    scored = ev.select(
        "event_type",
        "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sd"),
        F.count(F.lit(1)).over(win).alias("n_hist"),
    )
    has_hist = F.col("n_hist") >= _MZ_MIN_N
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.when(has_hist, 1)).alias("n_scored"),
            F.count(
                F.when(
                    has_hist
                    & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd")),
                    1,
                )
            ).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


_EWMA_ALPHA = 0.8  # per-step decay
_EWMA_K = 10  # trailing rows (finite horizon -> exact, oracle-able)


def _ewma_terms(lag_expr):
    """The EWMA numerator/denominator as an EXPLICIT fixed-order sum of
    K lag terms -- an expression chain, not an aggregate, so both
    engines evaluate bit-identical arithmetic in the same order."""
    num = " + ".join(
        f"POW({_EWMA_ALPHA}, {j}) * COALESCE({lag_expr.format(j=j)}, 0)"
        for j in range(_EWMA_K)
    )
    den = " + ".join(
        f"POW({_EWMA_ALPHA}, {j})"
        f" * (CASE WHEN {lag_expr.format(j=j)} IS NULL THEN 0 ELSE 1 END)"
        for j in range(_EWMA_K)
    )
    return num, den


@query(
    "events_ewma_value",
    oracle=(
        lambda num_den: f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value
      FROM events
      WHERE user_id % 20 = 0 AND value IS NOT NULL AND isfinite(value)
    ),
    l AS (
      SELECT user_id, ts, event_id,
             ({num_den[0]}) AS num, ({num_den[1]}) AS den
      FROM s
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           event_id, CAST(ROUND(num / den, 4) AS DOUBLE) AS ewma
    FROM l
    ORDER BY user_id, ts, event_id
    """
    )(_ewma_terms("LAG(value, {j}) OVER win")),
    doc="Exponentially weighted moving average per user series "
    "(alpha=0.8 over a trailing-10 horizon -- finite, so the smoothing "
    "is exact and oracle-able, unlike the infinite-history recurrence): "
    "the classic time-series feature under monitoring and training-"
    "signal smoothing. One hash-partitioned window per user (series "
    "sort in parallel); the weighted sum is an EXPLICIT chain of K lag "
    "terms -- a fixed-order scalar expression, not an aggregate, so "
    "both engines compute bit-identical arithmetic (no float-sum "
    "reorder) and stay fully inside whole-stage codegen. Ties on "
    "duplicate timestamps break by event_id on both sides.",
)
def q_events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        finite_values(load_table(spark, sf_dir, "events"))
        .filter((F.col("user_id") % 20 == 0) & F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        *[F.lag("value", j).over(win).alias(f"_l{j}") for j in range(_EWMA_K)],
    )
    num_sql, den_sql = _ewma_terms("_l{j}")
    return (
        lagged.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "event_id",
            F.round(F.expr(num_sql) / F.expr(den_sql), 4)
            .cast("double")
            .alias("ewma"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


_MAD_SIGMA = 1.4826  # consistency constant: MAD -> stddev under normality


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH s AS (SELECT event_type, value FROM events
               WHERE value IS NOT NULL AND isfinite(value)),
    med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM s GROUP BY event_type),
    dev AS (SELECT s.event_type, s.value, ABS(s.value - m.med) AS ad, m.med
            FROM s JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(ROUND(ANY_VALUE(d.med), 4) AS DOUBLE) AS median_v,
           CAST(ROUND(ANY_VALUE(m.mad), 4) AS DOUBLE) AS mad_v,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (d.ad > 3 * {_MAD_SIGMA} * m.mad) AS BIGINT)
             AS n_anomalies
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY event_type
    """,
    doc="ROBUST anomaly detection via median absolute deviation (the "
    "outlier-resistant sibling of events_anomaly_zscore: a handful of "
    "extreme rows inflate mean/stddev and mask themselves; median/MAD "
    "do not). Two exact interpolated-percentile aggregates per series "
    "(median, then MAD of deviations -- the medians join back "
    "hash-to-hash, broadcast when the type dimension is small), "
    "threshold 3 * 1.4826 * MAD (the normal-consistency scaling). "
    "State is per-type only; both engines interpolate percentiles "
    "identically so the counts are exact.",
)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        finite_values(load_table(spark, sf_dir, "events"))
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = s.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = s.join(med, "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).cast("double").alias("median_v"),
            F.round(F.first("mad"), 4).cast("double").alias("mad_v"),
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.col("ad") > 3 * _MAD_SIGMA * F.col("mad"), 1)
            ).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


_FUNNEL_WINDOW_US = 3_600_000_000  # 1 hour, integer epoch-micro math


@query(
    "events_funnel_timeboxed",
    oracle=f"""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT f.user_id, f.t_view,
             MAX(CASE WHEN e.event_type = 'purchase'
                       AND epoch_us(e.ts) >= f.t_view
                       AND epoch_us(e.ts) < f.t_view + {_FUNNEL_WINDOW_US}
                      THEN 1 ELSE 0 END) AS converted
      FROM f JOIN events e USING (user_id)
      WHERE f.t_view IS NOT NULL
      GROUP BY f.user_id, f.t_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(ROUND(SUM(converted) / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE)
             AS conv_rate
    FROM conv
    """,
    doc="TIME-BOXED funnel conversion (the events_funnel sibling with "
    "the attribution window every product-analytics funnel actually "
    "uses): a user converts iff a purchase lands within ONE HOUR of "
    "their first view -- unordered-lifetime funnels overcount. First-"
    "view timestamps are one conditional-min aggregate per user; the "
    "window test joins the per-user anchor back to that user's events "
    "hash-to-hash (both sides partitioned by user_id -- the exchange "
    "is reused, no second shuffle shape) with integer epoch-micro "
    "bounds (exact, timezone-free). Counts-only output.",
)
def q_events_funnel_timeboxed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros("ts"))
            ).alias("t_view")
        )
        .filter(F.col("t_view").isNotNull())
    )
    conv = (
        f.join(ev, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("t_view"))
                    & (
                        F.unix_micros("ts")
                        < F.col("t_view") + _FUNNEL_WINDOW_US
                    ),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") / F.count(F.lit(1)).cast("double"), 4)
        .cast("double")
        .alias("conv_rate"),
    )


@query(
    "quality_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT)
             AS n_null_qty,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
             AS n_high_discount,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    """,
    doc="In-flight pipeline metrics via DataFrame.observe (the "
    "accumulator-style observability surface Delta Live Tables-style "
    "expectations ride on): quality counters attach to the lineitem "
    "scan of an ORDINARY aggregate job and are collected from the "
    "driver-side Observation after that job runs -- ZERO extra scans, "
    "unlike a separate audit query. At 100 TB this is the difference "
    "between monitoring-for-free and doubling the read bill: metrics "
    "are computed as accumulator partials inside the tasks the "
    "pipeline already runs. Counters use count(CASE ...) so an empty "
    "scan reports 0, not NULL (degenerate-cardinality contract). "
    "Known benign noise: the first Observation registers Spark's "
    "session-wide ObservationManager listener, which ERROR-logs (and "
    "ignores) any LATER query's failure event in the same session -- "
    "log-level only, no effect on results.",
)
def q_quality_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("n_null_qty"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias(
            "n_high_discount"
        ),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
    # the monitored pipeline: a routine per-flag rollup consumes the
    # observed scan; its result is bounded (one row per flag value),
    # and running it is what populates the observation
    observed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    try:
        m = obs.get
    except Exception as ex:
        # an EMPTY scan is planned as a zero-partition local relation,
        # so the CollectMetrics node never executes and the observation
        # holds no row (PythonSQLUtils.toPyRow assertion) -- the
        # degenerate-cardinality contract is zero counters and
        # undefined extrema. Anything else (py4j transport, interrupt)
        # is a REAL error and must surface, not masquerade as an empty
        # table.
        if "assertion failed" not in str(ex):
            raise
        m = {
            "n_rows": 0,
            "n_null_qty": 0,
            "n_high_discount": 0,
            "min_price": None,
            "max_price": None,
        }
    schema = StructType(
        [
            StructField("n_rows", LongType(), False),
            StructField("n_null_qty", LongType(), False),
            StructField("n_high_discount", LongType(), False),
            StructField("min_price", DoubleType(), True),
            StructField("max_price", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_qty"]),
                int(m["n_high_discount"]),
                None if m["min_price"] is None else float(m["min_price"]),
                None if m["max_price"] is None else float(m["max_price"]),
            )
        ],
        schema,
    )


@query(
    "quality_clock_skew_audit",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '1990-01-01 00:00:00'
                           THEN 1 END) AS BIGINT) AS n_before_validity,
           CAST(COUNT(CASE WHEN ts >= TIMESTAMP '2090-01-01 00:00:00'
                           THEN 1 END) AS BIGINT) AS n_after_validity,
           strftime(MIN(CASE WHEN {VALID_TS_SQL} THEN ts END),
                    '%Y-%m-%d %H:%M:%S') AS min_valid_ts,
           strftime(MAX(CASE WHEN {VALID_TS_SQL} THEN ts END),
                    '%Y-%m-%d %H:%M:%S') AS max_valid_ts
    FROM events
    GROUP BY event_type
    ORDER BY event_type NULLS FIRST
    """,
    doc="Clock-skew audit: per event type, how many rows fall outside "
    "the temporal validity window (sources.VALID_TS_SQL -- the SAME "
    "contract string the streaming ingestion boundary enforces, "
    "evaluated here via F.expr so the two surfaces cannot drift) plus "
    "the valid-range extrema. The batch-side complement of the "
    "streaming contract: batch pipelines AUDIT clock garbage instead "
    "of dropping it, because batch results are order-independent and "
    "the skewed rows may still matter to an investigation. One "
    "scan-local conditional aggregate -- at 100 TB this rides the "
    "same pass as any other events profile, no extra shuffle beyond "
    "the bounded per-type rollup.",
)
def q_quality_clock_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    valid = F.expr(VALID_TS_SQL)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(
                F.when(
                    F.col("ts")
                    < F.lit("1990-01-01 00:00:00").cast("timestamp"),
                    1,
                )
            ).alias("n_before_validity"),
            F.count(
                F.when(
                    F.col("ts")
                    >= F.lit("2090-01-01 00:00:00").cast("timestamp"),
                    1,
                )
            ).alias("n_after_validity"),
            F.date_format(
                F.min(F.when(valid, F.col("ts"))), "yyyy-MM-dd HH:mm:ss"
            ).alias("min_valid_ts"),
            F.date_format(
                F.max(F.when(valid, F.col("ts"))), "yyyy-MM-dd HH:mm:ss"
            ).alias("max_valid_ts"),
        )
        .orderBy(F.col("event_type").asc_nulls_first())
    )
