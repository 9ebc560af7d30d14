"""Streaming SCD2 across micro-batches: incremental maintenance must
converge to the one-shot batch rebuild, including late (out-of-order)
arrivals that splice into an existing user's timeline, while users
absent from a batch pass through untouched."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

import pandas as pd

from os___mapreduceframework_spark.operators.temporal import scd2_intervals
from os___mapreduceframework_spark.sinks import SnapshotMergeTable
from os___mapreduceframework_spark.streaming.scd2 import incremental_scd2

_COLS = ["user_id", "event_type", "ts", "event_id"]


def _t(minute: int) -> datetime:
    return datetime(2024, 1, 1, 0, minute)


BATCH1 = [
    (1, "a", _t(10), 100),
    (1, "b", _t(20), 101),
    (2, "x", _t(15), 102),
]
BATCH2 = [
    (1, "c", _t(15), 103),  # LATE: splices between user 1's a and b
    (3, "y", _t(5), 104),  # new user
]


def _run_stream(spark, *batches, root=None):
    root = root or tempfile.mkdtemp(prefix="scd2_replay_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=_COLS)
        # micro precision: nano-timestamps hit the nanosAsLong legacy
        # path the shared session enables for the events fixture
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(os.path.join(src, f"b{i}.parquet"))
    ev = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp, event_id long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return incremental_scd2(ev, os.path.join(root, "history"))


def test_streamed_history_equals_batch_rebuild(spark, tmp_path):
    got = _run_stream(spark, BATCH1, BATCH2, root=str(tmp_path))
    all_events = spark.createDataFrame(
        BATCH1 + BATCH2,
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    want = scd2_intervals(all_events)
    key = lambda r: (r["user_id"], r["version"])
    got_rows = sorted((tuple(r) for r in got.collect()), key=lambda t: (t[0], t[4]))
    want_rows = sorted((tuple(r) for r in want.collect()), key=lambda t: (t[0], t[4]))
    assert got_rows == want_rows

    # the late event spliced: user 1's versions are a(10), c(15), b(20)
    u1 = [r for r in got.orderBy("version").collect() if r["user_id"] == 1]
    assert [r["state"] for r in u1] == ["a", "c", "b"]
    assert u1[0].valid_to == u1[1].valid_from and u1[1].valid_to == u1[2].valid_from
    assert u1[-1].valid_to is None

    # the history keeps one snapshot, and on disk only the buckets its
    # manifest points at: the files stay the size of the live table
    table = SnapshotMergeTable(spark, str(tmp_path / "history"), keys=["user_id"])
    assert table.versions() == [1]
    on_disk = {
        (int(v[1:]), int(b.split("=", 1)[1]))
        for v in os.listdir(tmp_path / "history" / "data")
        for b in os.listdir(tmp_path / "history" / "data" / v)
        if b.startswith("__bucket=")
    }
    assert on_disk == {(vdir, int(b)) for b, vdir in table._load_manifest(1).items()}


def test_replayed_batch_is_idempotent(spark):
    """Re-delivering the same events (replay after failure) must not
    duplicate versions: one deterministic winner per (user_id,
    event_id)."""
    got = _run_stream(spark, BATCH1, BATCH1)
    assert got.count() == len(BATCH1)
    versions = [
        (r["user_id"], r["version"]) for r in got.collect()
    ]
    assert len(versions) == len(set(versions))


def test_conflicting_replay_picks_deterministic_winner(spark):
    """A replayed event_id carrying a DIFFERENT payload (corrected ts)
    must resolve to the (ts, event_type)-minimal winner regardless of
    which batch delivered it -- both delivery orders converge to the
    same history."""
    original = [(1, "a", _t(10), 100), (1, "b", _t(30), 101)]
    corrected = [(1, "a2", _t(5), 100)]  # same event_id, earlier ts
    fwd = _run_stream(spark, original, corrected)
    rev = _run_stream(spark, corrected, original)
    as_rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert as_rows(fwd) == as_rows(rev)
    # winner for event 100 is the ts-minimal payload (a2 at minute 5)
    states = [r["state"] for r in fwd.orderBy("version").collect()]
    assert states == ["a2", "b"]


def test_dedup_events_order_and_partition_invariant(spark):
    """_dedup_events must pick the same winner set for ANY delivery
    order and ANY partitioning of the same event multiset -- the
    contract that makes multi-batch replays converge."""
    from itertools import permutations

    from os___mapreduceframework_spark.streaming.scd2 import _dedup_events

    rows = [
        (1, "b", _t(10), 100),
        (1, "a", _t(10), 100),  # same key+ts, event_type breaks the tie
        (1, "c", _t(5), 100),   # earlier ts wins outright
        (2, "x", _t(1), 200),
        (2, "x", _t(1), 200),   # exact duplicate
    ]
    schema = "user_id long, event_type string, ts timestamp, event_id long"
    want = {(1, "c", _t(5), 100), (2, "x", _t(1), 200)}
    for perm in list(permutations(rows))[:8]:
        for n_parts in (1, 3):
            df = spark.createDataFrame(list(perm), schema).repartition(n_parts)
            got = {tuple(r) for r in _dedup_events(df).collect()}
            assert got == want, (perm, n_parts, got)
