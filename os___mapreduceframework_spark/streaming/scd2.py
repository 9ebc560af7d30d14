"""Streaming SCD2: incremental validity-interval maintenance.

The batch operator (operators.temporal.scd2_user_state) rebuilds the
whole history; this module maintains it as events arrive, via
foreachBatch merge-recompute:

per micro-batch, only the batch's AFFECTED users are touched -- their
existing history rows are folded back to events, unioned with the new
events, and their intervals recomputed by the batch operator's own
``operators.temporal.scd2_intervals`` (the answer is defined once; this
module owns only the input side -- replay dedup and the MERGE); every
other user's rows pass through untouched. The recompute-per-affected-key
design makes the maintenance idempotent under replays (deterministic
one-winner dedup per (user_id, event_id), see ``_dedup_events``) and
correct under late/out-of-order arrivals across batches -- a late event
splices into its user's timeline because the user's whole (small)
history is re-windowed, while the table-wide cost stays proportional to
the batch's users, not the table.

The history lives in a user-bucketed ``SnapshotMergeTable``
(sinks.snapshot_table): each micro-batch's foreachBatch body is a true
MERGE that reads ONLY the buckets holding the batch's users and writes
their new files into the next snapshot -- copy-on-write scoped to
affected partitions, the same mechanics a Delta/Iceberg MERGE has (no
lakehouse jars ship in this container; swapping the sink for one is a
substitution, not a redesign). After each merge the table is vacuumed
to its one current snapshot, so the files on disk stay the size of the
live history however many batches run. The batch equivalence --
streamed result == one-shot batch rebuild -- is the registered query's
oracle and is also pinned across a multi-batch replay in
tests/test_streaming_scd2.py.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.operators.temporal import scd2_intervals
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.scratch import scratch_dir
from os___mapreduceframework_spark.sinks import SnapshotMergeTable
from os___mapreduceframework_spark.streaming.windows import drain, events_stream

_HISTORY_SCHEMA = (
    "user_id long, state string, valid_from timestamp, "
    "valid_to timestamp, version long, event_id long"
)


def _dedup_events(events: DataFrame) -> DataFrame:
    """Deterministic replay dedup: ONE winner per (user_id, event_id),
    the (ts, event_type)-minimal payload. ``dropDuplicates`` on the key
    subset keeps an ARBITRARY row when a replayed event_id arrives with
    a differing payload (a corrected ts, say), so the surviving version
    -- and the whole downstream timeline -- would depend on partition
    and batch arrival order. The min-winner depends only on the SET of
    payloads ever seen, so multi-batch replays converge to the same
    history no matter the delivery order, and the DuckDB oracle can
    mirror the rule exactly (NULLS FIRST spelled on both engines:
    Spark asc defaults nulls-first, DuckDB ASC defaults NULLS LAST)."""
    w = W.partitionBy("user_id", "event_id").orderBy(
        F.col("ts").asc_nulls_first(),
        F.col("event_type").asc_nulls_first(),
    )
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _scd2_merge(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """MERGE body over the affected-bucket slice: non-affected users in
    the slice pass through; affected users' history rows fold back to
    events, union the batch, dedup (replay-safe), re-window."""
    affected = batch.select("user_id").distinct()
    keep = existing.join(affected, "user_id", "left_anti")
    prior_events = existing.join(affected, "user_id", "left_semi").select(
        "user_id",
        F.col("state").alias("event_type"),
        F.col("valid_from").alias("ts"),
        "event_id",
    )
    merged = _dedup_events(prior_events.unionByName(batch))
    return keep.unionByName(scd2_intervals(merged))


def incremental_scd2(
    ev_stream: DataFrame, history_dir: str, n_buckets: int = 16
) -> DataFrame:
    """Drive the stream to completion, maintaining the SCD2 history as a
    user-bucketed SnapshotMergeTable at ``history_dir``; returns the
    final history frame. Each micro-batch's MERGE reads and rewrites
    only the buckets holding affected users -- table-wide cost never
    enters the loop -- and keeps one snapshot."""
    spark = ev_stream.sparkSession
    shutil.rmtree(history_dir, ignore_errors=True)
    table = SnapshotMergeTable(
        spark, history_dir, keys=["user_id"], n_buckets=n_buckets
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        batch = batch_df.select("user_id", "event_type", "ts", "event_id")
        if table.current_version() is None:
            table.overwrite(scd2_intervals(_dedup_events(batch)))
            return
        table.merge(batch, merge_fn=_scd2_merge)
        table.vacuum(keep_last=1)

    drain(ev_stream, lambda w: w.foreachBatch(process_batch))
    if table.current_version() is None:  # empty stream
        return spark.createDataFrame([], _HISTORY_SCHEMA)
    return table.read()


@query(
    "stream_scd2_user_state",
    oracle="""
    WITH ev AS (
      -- replay-dedup mirror: the stream keeps ONE deterministic winner
      -- per (user_id, event_id) -- the (ts, event_type)-minimal payload
      -- (ingestion replays must not create phantom versions, and a
      -- replay with a differing payload must not pick an
      -- arrival-order-dependent survivor)
      SELECT user_id, event_type, ts, event_id FROM (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_id
                 ORDER BY ts ASC NULLS FIRST, event_type ASC NULLS FIRST
               ) AS rn
        FROM events WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00') WHERE rn = 1
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, version
    """,
    doc="Streaming SCD2 maintenance: the events stream folds into a "
    "versioned validity-interval history via foreachBatch "
    "merge-recompute over affected users only (module doc). The "
    "oracle is the one-shot batch rebuild over replay-deduped events "
    "(event_id is the event identity) -- incremental maintenance "
    "must converge to it exactly; the multi-batch replay (incl. "
    "out-of-order arrival) is pinned in tests/test_streaming_scd2.py.",
)
def q_stream_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    history_dir = scratch_dir("scd2_history")
    ev = events_stream(spark, sf_dir)
    hist = incremental_scd2(ev, history_dir)
    return hist.select(
        "user_id", "state", "valid_from", "valid_to", "version"
    ).orderBy("user_id", "version")
