"""Streaming CDC upsert into a snapshot-versioned table.

The modern lakehouse ingestion shape end-to-end: a file stream is
driven in MULTIPLE micro-batches (maxFilesPerTrigger=1 over a
multi-file copy of the events table), each batch MERGEs its per-user
latest-event rows into a ``SnapshotMergeTable`` via foreachBatch --
so every micro-batch commits an immutable snapshot version, history
stays time-travelable, and ``changes()`` can replay any batch's diff
afterwards. ``streaming/scd2.py`` proves stream->MERGE on the in-place
table; this proves stream->VERSIONED table, which is what a 100 TB
ingest actually runs (Delta/Iceberg streaming sink semantics: one
commit per micro-batch).

The merge is keep-newest-per-user: batches may arrive in any order, so
the merge_fn takes the (ts, event_id)-argmax over existing + updates
per user -- commutative across batches, which makes the final state
independent of file->batch assignment (the property the oracle needs:
DuckDB computes the same argmax over the whole table in one window).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.scratch import scratch_dir
from os___mapreduceframework_spark.sinks.snapshot_table import SnapshotMergeTable
from os___mapreduceframework_spark.sources import load_table, valid_event_times
from os___mapreduceframework_spark.streaming.windows import drain

N_SOURCE_FILES = 4  # micro-batches driven per run (maxFilesPerTrigger=1)


def _latest_per_user(df: DataFrame) -> DataFrame:
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _keep_newest(existing: DataFrame, updates: DataFrame) -> DataFrame:
    return _latest_per_user(existing.unionByName(updates))


@query(
    "stream_snapshot_cdc_upsert",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts >= TIMESTAMP '1990-01-01 00:00:00' AND ts < TIMESTAMP '2090-01-01 00:00:00'
    )
    SELECT user_id,
           event_type AS last_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM r WHERE rn = 1
    ORDER BY user_id
    """,
    doc="Streaming CDC into a snapshot-versioned table: events split "
    f"into {N_SOURCE_FILES} files, streamed 1 file per micro-batch "
    "(availableNow + maxFilesPerTrigger), each batch MERGEd as "
    "keep-newest-per-user into SnapshotMergeTable via foreachBatch -- "
    "one immutable snapshot version per micro-batch, so history is "
    "time-travelable and per-batch diffs replay via changes(). The "
    "merge is a commutative argmax, so the final state equals the "
    "batch-independent global argmax the oracle computes.",
)
def q_stream_snapshot_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the landing files ARE the stream's feed -- the temporal-validity
    # ingestion contract (sources.VALID_TS_SQL) applies where the feed
    # is materialized, exactly as events_stream applies it at its source
    ev = valid_event_times(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    src = scratch_dir("snapshot_cdc_src")
    tbl = scratch_dir("snapshot_cdc_table")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(tbl, ignore_errors=True)
    ev.repartition(N_SOURCE_FILES).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = SnapshotMergeTable(spark, tbl, keys=["user_id"], n_buckets=16)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        latest = _latest_per_user(batch_df)
        if table.current_version() is None:
            table.overwrite(latest)
        else:
            table.merge(latest, merge_fn=_keep_newest)

    drain(stream, lambda w: w.foreachBatch(process_batch))

    if table.current_version() is None:
        # zero input batches (empty source): the latest-state table is
        # legitimately empty -- seed it so read() serves the schema
        # (empty overwrite is first-class in the sink)
        table.overwrite(_latest_per_user(spark.createDataFrame([], ev.schema)))

    return (
        table.read()
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )
