"""The one stream driver, ``streaming.windows.drain``: it owns the
checkpoint (fresh, under the scratch root, deleted when the stream
ends), the state-partition cap and the progress record, and restores
every session setting it touched -- also when a batch fails."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from os___mapreduceframework_spark import queries as registry
from os___mapreduceframework_spark import scratch
from os___mapreduceframework_spark.streaming import windows
from tests.conftest import TEST_SF_DIR

_PROGRESS_KEY = "spark.sql.streaming.numRecentProgressUpdates"


def _listings() -> dict[str, set[str]]:
    dirs = [tempfile.gettempdir(), scratch.scratch_dir("")]
    return {d: set(os.listdir(d)) for d in dirs}


def _added(before: dict[str, set[str]]) -> dict[str, set[str]]:
    """Entries that appeared since ``before``, per listed dir."""
    return {d: names - before[d] for d, names in _listings().items()}


def test_stream_queries_leave_no_checkpoint_behind(spark):
    """The first pass creates each query's own output dirs; a second
    pass must add nothing to the temp dir or the scratch root."""
    names = ["stream_foreach_batch_sink", "stream_scd2_user_state", "stream_live_search"]
    qs = registry.queries()
    for name in names:
        qs[name](spark, TEST_SF_DIR).collect()
    before = _listings()
    for name in names:
        qs[name](spark, TEST_SF_DIR).collect()
    assert _added(before) == {d: set() for d in before}


def test_failed_batch_propagates_and_cleans_up(spark):
    def boom(batch_df, batch_id):
        raise RuntimeError("boom in foreachBatch")

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    before = _listings()
    stream = windows.events_stream(spark, TEST_SF_DIR)
    with pytest.raises(Exception, match="boom in foreachBatch"):
        windows.drain(stream, lambda w: w.foreachBatch(boom), shuffle_partitions=1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert _added(before) == {d: set() for d in before}


def test_every_batch_progress_is_kept(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(5):
        path = src / f"part_{i}.parquet"
        pq.write_table(pa.table({"x": [i, i + 10]}), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # mtime = batch order
    old = spark.conf.get(_PROGRESS_KEY)
    spark.conf.set(_PROGRESS_KEY, "2")
    try:
        stream = (
            spark.readStream.schema("x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        progress = windows.drain(stream, lambda w: w.format("noop"))
        assert spark.conf.get(_PROGRESS_KEY) == "2"
    finally:
        spark.conf.set(_PROGRESS_KEY, old)
    assert [p["numInputRows"] for p in progress] == [2] * 5
    assert all("triggerExecution" in p["durationMs"] for p in progress)
    assert windows.LAST_RUN["progress"] == progress
    assert windows.LAST_RUN["start_s"] > 0 and windows.LAST_RUN["await_s"] > 0
