"""The reference's workload as a LIVE pipeline: watch directories,
maintain the Search aggregation continuously.

The Search client (Search.cpp:84-125) is a one-shot batch job: list
directories, filter names by substring, count per name, sort. This
module runs the *same* dataflow as a continuous query over the
streaming ``dir_entries`` source (sources.dir_source): entries that
appear in a watched directory flow through the identical
filter -> groupBy-count -> sort plan, and the complete-mode sink always
holds the up-to-date answer. One operator definition
(operators.search.search_count) serves both the batch and the live
pipeline -- DataFrame code is agnostic to batch/stream, which is the
whole argument for building the engine on Structured Streaming instead
of the reference's pthread runtime.

Scale notes: the aggregation state is one (name, count) entry per
distinct matching name -- bounded by the name universe, not the event
count. Checkpointed offsets (the watcher's mtime watermark) make the
pipeline restartable: a resumed query continues accumulating into the
same state store rather than recounting from scratch. At production
scale the watched-directory source becomes object-store event
notifications or Kafka, and the memory sink becomes a Delta table in
complete/update mode; the plan in the middle is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from os___mapreduceframework_spark.operators.search import search_count
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources.dir_source import DirEntriesDataSource
from os___mapreduceframework_spark.streaming.windows import _SINK_COUNTER, drain


def live_search_frame(spark: SparkSession, dirs: list[str], word: str) -> DataFrame:
    """The streaming Search aggregation: a continuously-maintained
    (name, cnt) frame over entries appearing in ``dirs``. The plan is
    byte-for-byte the batch search_count plan applied to the streaming
    source."""
    spark.dataSource.register(DirEntriesDataSource)
    entries = (
        spark.readStream.format("dir_entries")
        .option("paths", ",".join(dirs))
        .load()
    )
    return search_count(entries, word)


def drain_live_search(
    spark: SparkSession, dirs: list[str], word: str, checkpoint: str | None = None
) -> DataFrame:
    """Drain everything currently visible in ``dirs`` through the live
    pipeline into a memory sink (complete mode: the table holds the
    full current aggregation) and return the (name, cnt) snapshot.
    Calling again with the same ``checkpoint`` after new files appear
    returns the UPDATED cumulative aggregation (state-store resume --
    entries already counted are never recounted), which is the
    live-pipeline contract tests pin. Without a checkpoint the run is
    one-shot."""
    name = f"live_search_{next(_SINK_COUNTER)}"
    drain(
        live_search_frame(spark, dirs, word),
        lambda w: w.outputMode("complete").format("memory").queryName(name),
        checkpoint=checkpoint,
    )
    return spark.table(name)


_FIXTURE_TABLES = sorted(
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

@query(
    "stream_live_search",
    # The watched directory IS the fixture contract (TESTDATA.md): it
    # holds exactly the ten table parquet files, so the expected
    # aggregation is a static relation -- the one case where a VALUES
    # oracle is the honest ground truth (dir listings are otherwise
    # outside the DuckDB views).
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{t}.parquet', CAST(1 AS BIGINT))" for t in _FIXTURE_TABLES)
    + ") AS t(name, cnt) ORDER BY name",
    doc="The reference's Search workload as a live pipeline: the "
    "streaming dir_entries watcher feeds the SAME search_count operator "
    "the batch flagship uses; the complete-mode sink holds the "
    "continuously-updated (name, cnt) answer. Here it watches sf_dir "
    "itself (counting names containing 'parquet'); cross-batch "
    "accumulation on a shared checkpoint is pinned in "
    "tests/test_streaming_incremental.py.",
)
def q_stream_live_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = drain_live_search(spark, [os.path.normpath(sf_dir)], "parquet")
    return out.orderBy("name")
