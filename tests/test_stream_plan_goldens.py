"""Execution-shape goldens for the streaming headliners (VERDICT r5
item 4). Streaming physical plans cannot be text-snapshotted like the
batch goldens (each micro-batch plan embeds checkpoint-specific
state-store paths), so the pinned artifact is the progress JSON's
stateOperators + eventTime instead: a regression that adds a second
state operator (an accidental stream-stream join, a dropped
deduplicate) or loses the watermark (unbounded state!) fails here."""

from __future__ import annotations

import pytest

from os___mapreduceframework_spark import queries as registry
from os___mapreduceframework_spark.streaming import windows
from tests.conftest import TEST_SF_DIR

# name -> (expected state operator names in order, watermark expected)
EXPECTED = {
    # one windowed aggregation; watermark bounds its state
    "stream_tumbling_agg": (["stateStoreSave"], True),
    # hourly feature aggregate (the gap-fill stage is a downstream
    # BATCH view over the materialized table: no extra state operator)
    "stream_gap_fill_hourly": (["stateStoreSave"], True),
    # keyed custom state; no event-time column -> no watermark
    "stream_incremental_dedup": (["applyInPandasWithState"], False),
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_stream_state_shape_matches_golden(spark, name):
    ops, wm = EXPECTED[name]
    registry.queries()[name](spark, TEST_SF_DIR)  # runs the stream
    progs = [p for p in windows.LAST_RUN["progress"] if p.get("stateOperators")]
    assert progs, "the stream recorded no state-operator progress"
    p = progs[-1]
    got = [so.get("operatorName") for so in p.get("stateOperators", [])]
    assert got == ops, f"{name}: state operators {got}, expected {ops}"
    for so in p.get("stateOperators", []):
        assert so.get("numRowsTotal", 0) > 0, f"{name}: empty state store"
    has_wm = "watermark" in (p.get("eventTime") or {})
    assert has_wm == wm, f"{name}: watermark presence {has_wm}, expected {wm}"
