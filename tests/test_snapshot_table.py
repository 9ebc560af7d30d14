"""SnapshotMergeTable: snapshot isolation, time travel, bucket-scoped
file writes, and vacuum expiry."""

from __future__ import annotations

import os

import pytest

from os___mapreduceframework_spark.sinks.snapshot_table import SnapshotMergeTable


@pytest.fixture
def table(spark, tmp_path):
    t = SnapshotMergeTable(
        spark, str(tmp_path / "snap"), keys=["k"], n_buckets=8
    )
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    return t


def _rows(df):
    return {(r["k"], r["v"]) for r in df.collect()}


def test_merge_creates_new_version_and_preserves_old(spark, table):
    table.merge(spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"))
    assert table.versions() == [0, 1]
    assert _rows(table.read(version=0)) == {(1, "a"), (2, "b"), (3, "c")}
    assert _rows(table.read(version=1)) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert _rows(table.read()) == _rows(table.read(version=1))


def test_untouched_bucket_files_not_rewritten(spark, table):
    """A merge must write files ONLY under the new version dir; v0's
    data files stay byte-identical (append-only history)."""

    def file_set(root):
        return {
            os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(root)
            for f in fs
        }

    v0_before = file_set(table._data_dir(0))
    table.merge(spark.createDataFrame([(2, "B")], "k long, v string"))
    assert file_set(table._data_dir(0)) == v0_before
    assert os.path.isdir(table._data_dir(1))


def test_chained_merges_time_travel_every_version(spark, table):
    table.merge(spark.createDataFrame([(1, "A")], "k long, v string"))
    table.merge(spark.createDataFrame([(5, "e")], "k long, v string"))
    assert table.versions() == [0, 1, 2]
    assert _rows(table.read(version=0)) == {(1, "a"), (2, "b"), (3, "c")}
    assert _rows(table.read(version=1)) == {(1, "A"), (2, "b"), (3, "c")}
    assert _rows(table.read(version=2)) == {(1, "A"), (2, "b"), (3, "c"), (5, "e")}


def test_vacuum_expires_old_snapshots_keeps_referenced_files(spark, table):
    table.merge(spark.createDataFrame([(2, "B")], "k long, v string"))
    table.merge(spark.createDataFrame([(3, "C")], "k long, v string"))
    removed = table.vacuum(keep_last=2)
    assert removed == [0]
    assert table.versions() == [1, 2]
    # v0's data dir must SURVIVE if kept manifests still point into it
    live_dirs = set(table._load_manifest(1).values()) | set(
        table._load_manifest(2).values()
    )
    if 0 in live_dirs:
        assert os.path.isdir(table._data_dir(0))
    # latest state unchanged by vacuum
    assert _rows(table.read()) == {(1, "a"), (2, "B"), (3, "C")}
    with pytest.raises(FileNotFoundError):
        table._load_manifest(0)


def test_vacuum_zero_keep_is_noop(spark, table):
    """keep_last=0 must keep everything -- a retention policy that
    keeps nothing would delete the live table."""
    table.merge(spark.createDataFrame([(2, "B")], "k long, v string"))
    assert table.vacuum(keep_last=0) == []
    assert table.versions() == [0, 1]
    assert _rows(table.read()) == {(1, "a"), (2, "B"), (3, "c")}


@pytest.mark.parametrize(
    "seed, batches, want",
    [
        # matched key updated, unmatched key inserted
        ([(1, "a"), (2, "b"), (3, "c")], [[(2, "B"), (4, "d")]],
         [(1, "a"), (2, "B"), (3, "c"), (4, "d")]),
        # a merge into a missing table creates it
        (None, [[(1, "a")]], [(1, "a")]),
        # a replayed batch (foreachBatch at-least-once delivery) changes nothing
        ([(1, "a")], [[(1, "A"), (2, "b")]] * 2, [(1, "A"), (2, "b")]),
    ],
    ids=["upsert", "merge_creates_missing_table", "replayed_merge_idempotent"],
)
def test_default_merge_is_upsert(spark, tmp_path, seed, batches, want):
    t = SnapshotMergeTable(spark, str(tmp_path / "u"), keys=["k"], n_buckets=8)
    if seed is not None:
        t.overwrite(spark.createDataFrame(seed, "k long, v string"))
    for rows in batches:
        t.merge(spark.createDataFrame(rows, "k long, v string"))
    assert sorted(tuple(r) for r in t.read().collect()) == want


def test_manifest_moves_only_the_written_buckets(spark, tmp_path):
    """The new version's bucket set is what its write left on disk: a
    one-key upsert writes one ``__bucket=`` dir and moves only that
    bucket's pointer; a one-key merge that empties its bucket writes no
    dir and drops only that bucket from the manifest."""
    from pyspark.sql import functions as F

    t = SnapshotMergeTable(spark, str(tmp_path / "w"), keys=["k"], n_buckets=8)
    t.overwrite(spark.range(0, 40).select(F.col("id").alias("k"), F.lit("x").alias("v")))
    m0 = t._load_manifest(0)
    assert len(m0) == 8
    (b,) = [
        r["b"]
        for r in spark.createDataFrame([(7,)], "k long")
        .select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("b"))
        .collect()
    ]

    def written(version):
        return sorted(
            n for n in os.listdir(t._data_dir(version)) if n.startswith("__bucket=")
        )

    t.merge(spark.createDataFrame([(7, "y")], "k long, v string"))
    assert written(1) == [f"__bucket={b}"]
    assert t._load_manifest(1) == {**m0, str(b): 1}

    t.merge(
        spark.createDataFrame([(7, "z")], "k long, v string"),
        merge_fn=lambda existing, updates: existing.limit(0),
    )
    assert written(2) == []
    assert t._load_manifest(2) == {k: v for k, v in m0.items() if k != str(b)}
    assert t.read().count() == 40 - t.read(version=1).filter(
        F.pmod(F.xxhash64("k"), F.lit(8)) == b
    ).count()


def test_custom_merge_fn_requires_seeded_table(spark, tmp_path):
    t = SnapshotMergeTable(spark, str(tmp_path / "x"), keys=["k"])
    with pytest.raises(ValueError, match="seed"):
        t.merge(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            merge_fn=lambda e, u: u,
        )


def test_schema_evolution_on_merge(spark, table):
    """An update batch carrying a NEW column merges cleanly: old rows
    null-pad the new column, old snapshots stay readable, and the
    current read exposes the merged schema."""
    upd = spark.createDataFrame([(2, "B", 7)], "k long, v string, score long")
    table.merge(upd)
    cur = table.read()
    assert set(cur.columns) == {"k", "v", "score"}
    got = {(r["k"], r["v"], r["score"]) for r in cur.collect()}
    assert got == {(1, "a", None), (2, "B", 7), (3, "c", None)}
    # pre-evolution snapshot unaffected
    assert set(table.read(version=0).columns) == {"k", "v"}


def test_compact_collapses_pointers_then_vacuum_all_history(spark, table):
    table.merge(spark.createDataFrame([(2, "B")], "k long, v string"))
    table.merge(spark.createDataFrame([(5, "e")], "k long, v string"))
    before = _rows(table.read())
    v = table.compact()
    manifest = table._load_manifest(v)
    assert set(manifest.values()) == {v}, "all buckets point at the compacted dir"
    assert _rows(table.read()) == before
    table.vacuum(keep_last=1)
    assert table.versions() == [v]
    assert _rows(table.read()) == before


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# random merge histories: each batch is a small dict of key -> value
_batches = st.lists(
    st.dictionaries(
        st.integers(min_value=0, max_value=12),
        st.text(alphabet="xyz", min_size=1, max_size=3),
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=_batches)
def test_property_merge_history_matches_dict_fold(spark, tmp_path_factory, batches):
    """Any sequence of upsert batches: the snapshot AS OF version k
    equals folding the first k+1 batches into a dict -- every retained
    version, not just the head."""
    root = tmp_path_factory.mktemp("snap_prop")
    t = SnapshotMergeTable(spark, str(root / "t"), keys=["k"], n_buckets=4)

    def df_of(d):
        return spark.createDataFrame(list(d.items()), "k long, v string")

    t.overwrite(df_of(batches[0]))
    for b in batches[1:]:
        t.merge(df_of(b))

    state: dict[int, str] = {}
    for version, b in enumerate(batches):
        state.update(b)
        got = {(r["k"], r["v"]) for r in t.read(version=version).collect()}
        assert got == set(state.items()), (version, batches)


def test_concurrent_writers_exactly_one_commits(spark, table):
    """Two handles merge from the same base: the first commit wins, the
    second raises ConcurrentWriteError and succeeds after re-read."""
    from os___mapreduceframework_spark.sinks.snapshot_table import (
        ConcurrentWriteError,
    )

    other = SnapshotMergeTable(spark, table.path, keys=["k"], n_buckets=8)
    # both writers are now based on v0; `table` commits v1 first
    table.merge(spark.createDataFrame([(2, "B")], "k long, v string"))

    real_commit = other._commit
    # pin `other`'s merge to the stale base (it would otherwise re-read
    # current_version() and see v1): force base=0, version=1
    def stale_commit(version, buckets, base=None):
        real_commit(1, buckets, base=0)

    other._commit = stale_commit
    with pytest.raises(ConcurrentWriteError):
        other.merge(spark.createDataFrame([(9, "z")], "k long, v string"))
    other._commit = real_commit

    # retry after re-read lands cleanly on top of v1
    other.merge(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert _rows(other.read()) == {(1, "a"), (2, "B"), (3, "c"), (9, "z")}


def test_change_feed_insert_update_delete(spark, table):
    """changes() classifies all three kinds. The delete key must ride in
    the update batch (tombstone-style) so its bucket counts as affected
    -- merge_fn only ever sees affected buckets, the bucket-scoped
    contract."""

    def merge_with_tombstones(existing, updates):
        live = updates.filter("v IS NOT NULL")
        dead_keys = updates.filter("v IS NULL").select("k")
        kept = existing.join(dead_keys, ["k"], "left_anti")
        return kept.join(live, ["k"], "left_anti").unionByName(live)

    upd = spark.createDataFrame(
        [(2, "B"), (5, "e"), (3, None)], "k long, v string"
    )
    table.merge(upd, merge_fn=merge_with_tombstones)
    got = {
        (r["change_type"], r["k"], r["v"])
        for r in table.changes(0, 1).collect()
    }
    assert got == {
        ("update", 2, "B"),
        ("insert", 5, "e"),
        ("delete", 3, None),
    }
    # unchanged key 1 must NOT appear


def test_stream_cdc_commits_one_version_per_batch(spark):
    """The streaming CDC query commits a snapshot per micro-batch:
    multiple versions exist afterwards, and user coverage grows
    monotonically across them (keep-newest upsert never drops keys)."""
    from os___mapreduceframework_spark import queries as registry
    from os___mapreduceframework_spark.scratch import scratch_dir
    from tests.conftest import TEST_SF_DIR

    out = registry.queries()["stream_snapshot_cdc_upsert"](spark, TEST_SF_DIR)
    n_users = out.count()
    t = SnapshotMergeTable(
        spark, scratch_dir("snapshot_cdc_table"), keys=["user_id"], n_buckets=16
    )
    vs = t.versions()
    assert len(vs) >= 2, f"expected one snapshot per micro-batch, got {vs}"
    counts = [
        t.read(version=v).select("user_id").distinct().count() for v in vs
    ]
    assert counts == sorted(counts), counts
    assert counts[-1] == n_users


# ---------------------------------------------------------------------------
# SnapshotTransaction: atomic multi-table commit
# ---------------------------------------------------------------------------

from os___mapreduceframework_spark.sinks.snapshot_table import (  # noqa: E402
    ConcurrentWriteError,
    SnapshotTransaction,
)


@pytest.fixture
def two_tables(spark, tmp_path):
    a = SnapshotMergeTable(spark, str(tmp_path / "a"), keys=["k"], n_buckets=8)
    b = SnapshotMergeTable(spark, str(tmp_path / "b"), keys=["k"], n_buckets=8)
    a.overwrite(spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, v string"))
    b.overwrite(spark.createDataFrame([(1, "b1"), (2, "b2")], "k long, v string"))
    return str(tmp_path), {"a": a, "b": b}


def test_txn_commits_both_tables_atomically(spark, two_tables):
    root, tables = two_tables
    tx = SnapshotTransaction(root, tables)
    tx.stage_merge("a", spark.createDataFrame([(2, "A2")], "k long, v string"))
    # nothing visible while staged (prepare wrote files, no pointers moved)
    assert tables["a"].current_version() == 0
    tx.stage_merge("b", spark.createDataFrame([(3, "B3")], "k long, v string"))
    tx_id = tx.commit()
    assert tx_id == 0
    assert tables["a"].current_version() == 1
    assert tables["b"].current_version() == 1
    assert _rows(tables["a"].read()) == {(1, "a1"), (2, "A2")}
    assert _rows(tables["b"].read()) == {(1, "b1"), (2, "b2"), (3, "B3")}
    # time travel still works per table
    assert _rows(tables["a"].read(version=0)) == {(1, "a1"), (2, "a2")}


def test_txn_conflict_aborts_every_table(spark, two_tables):
    """If one table's base moved under the transaction, NO table commits
    (staged manifests dropped, pointers untouched)."""
    root, tables = two_tables
    tx = SnapshotTransaction(root, tables)
    tx.stage_merge("a", spark.createDataFrame([(2, "A2")], "k long, v string"))
    tx.stage_merge("b", spark.createDataFrame([(3, "B3")], "k long, v string"))
    # an independent writer advances table b before the txn commits
    tables["b"].merge(spark.createDataFrame([(9, "race")], "k long, v string"))
    with pytest.raises(ConcurrentWriteError):
        tx.commit()
    assert tables["a"].current_version() == 0
    assert tables["a"].versions() == [0]  # staged manifest rolled back
    assert tables["b"].current_version() == 1  # the racer's commit, not ours
    assert _rows(tables["b"].read()) == {(1, "b1"), (2, "b2"), (9, "race")}


def test_txn_recover_rolls_forward_after_crash(spark, two_tables):
    """Crash between the commit record and the pointer swings: recover()
    completes the transaction; no mixed-version window survives it."""
    root, tables = two_tables
    tx = SnapshotTransaction(root, tables)
    tx.stage_merge("a", spark.createDataFrame([(2, "A2")], "k long, v string"))
    tx.stage_merge("b", spark.createDataFrame([(3, "B3")], "k long, v string"))
    # simulate the crash: run commit() but stop after the tx record by
    # monkeypatching one table's pointer swing to raise
    orig = tables["b"]._swing_pointer
    tables["b"]._swing_pointer = lambda v: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        tx.commit()
    tables["b"]._swing_pointer = orig
    # table a swung, table b did not: the mixed state recover() fixes
    assert tables["a"].current_version() == 1
    assert tables["b"].current_version() == 0
    moved = SnapshotTransaction(root, tables).recover()
    assert moved == {"b": 1}
    assert tables["b"].current_version() == 1
    assert _rows(tables["b"].read()) == {(1, "b1"), (2, "b2"), (3, "B3")}
    # idempotent: a second recover moves nothing
    assert SnapshotTransaction(root, tables).recover() == {}


def test_txn_ids_increment(spark, two_tables):
    root, tables = two_tables
    for i in range(2):
        tx = SnapshotTransaction(root, tables)
        tx.stage_merge("a", spark.createDataFrame([(10 + i, f"x{i}")], "k long, v string"))
        assert tx.commit() == i
    assert tables["a"].current_version() == 2


def test_change_feed_before_images(spark, table):
    """before_image=True adds {col}__before: old value for updates and
    deletes, NULL for inserts -- what incremental view maintenance
    subtracts."""
    def merge_fn(existing, updates):
        merged = existing.join(updates, ["k"], "left_anti").unionByName(updates)
        return merged.filter("k <> 3")  # delete k=3

    table.merge(
        spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], "k long, v string"),
        merge_fn=merge_fn,
    )
    rows = {
        r["k"]: (r["change_type"], r["v"], r["v__before"])
        for r in table.changes(0, 1, before_image=True).collect()
    }
    assert rows == {
        2: ("update", "B", "b"),
        3: ("delete", None, "c"),
        4: ("insert", "d", None),
    }


def test_change_feed_reads_only_changed_buckets(spark, tmp_path):
    """changes() must not scan the whole table: buckets whose manifest
    pointer is identical in both snapshots are byte-identical and must
    not appear in either side's input files (file-granular change
    tracking)."""
    t = SnapshotMergeTable(spark, str(tmp_path / "cdf"), keys=["k"], n_buckets=8)
    t.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(64)], "k long, v string")
    )
    t.merge(spark.createDataFrame([(7, "V7")], "k long, v string"))
    m0, m1 = t._load_manifest(0), t._load_manifest(1)
    changed = {b for b in set(m0) | set(m1) if m0.get(b) != m1.get(b)}
    assert 0 < len(changed) < len(m1)  # one key touches few of 8 buckets
    # behavioral proof of pruning: remove every UNCHANGED bucket
    # partition from the v0 dir; the diff must neither list nor read
    # them, so changes() still computes (inputFiles() can't prove this
    # -- it lists the relation's files before partition pruning)
    import shutil

    for b in set(m0) - changed:
        shutil.rmtree(
            os.path.join(t._data_dir(0), f"__bucket={b}"), ignore_errors=True
        )
    cdf = t.changes(0, 1)
    assert {(r["change_type"], r["k"], r["v"]) for r in cdf.collect()} == {
        ("update", 7, "V7")
    }


def test_txn_vacuum_retention_follows_commit_log(spark, two_tables):
    """SnapshotTransaction.vacuum(retain_last_tx=N) keeps every version
    the retained commit records reference (consistent cross-table time
    travel), expires older history, and prunes expired tx records."""
    root, tables = two_tables
    for i in range(3):
        tx = SnapshotTransaction(root, tables)
        tx.stage_merge("a", spark.createDataFrame([(2, f"A{i}")], "k long, v string"))
        tx.stage_merge("b", spark.createDataFrame([(3, f"B{i}")], "k long, v string"))
        tx.commit()
    # versions now 0..3 per table; tx records 0..2 reference v1..v3
    coord = SnapshotTransaction(root, tables)
    removed = coord.vacuum(retain_last_tx=2)
    # last 2 txs reference v2,v3 -> floor v2; v0,v1 expire on both tables
    assert removed == {"a": [0, 1], "b": [0, 1]}
    assert tables["a"].versions() == [2, 3]
    assert coord._tx_ids() == [1, 2]
    # every retained transaction is still reconstructible consistently
    assert _rows(tables["a"].read(version=2)) == {(1, "a1"), (2, "A1")}
    assert _rows(tables["b"].read(version=3)) == {(1, "b1"), (2, "b2"), (3, "B2")}
    # recover() still has its anchor record and is a no-op
    assert coord.recover() == {}
    with pytest.raises(ValueError, match="retain_last_tx"):
        coord.vacuum(retain_last_tx=0)


def test_txn_vacuum_leaves_unreferenced_tables_alone(spark, two_tables):
    """A table the retained commit records never name must NOT be
    expired -- the log says nothing about what of its history is safe
    to drop."""
    root, tables = two_tables
    # table b evolves only via direct merges; only a goes through txs
    tables["b"].merge(spark.createDataFrame([(3, "x")], "k long, v string"))
    for i in range(2):
        tx = SnapshotTransaction(root, tables)
        tx.stage_merge("a", spark.createDataFrame([(2, f"A{i}")], "k long, v string"))
        tx.commit()
    removed = SnapshotTransaction(root, tables).vacuum(retain_last_tx=1)
    assert "b" not in removed
    assert tables["b"].versions() == [0, 1]  # untouched
    assert _rows(tables["b"].read(version=0)) == {(1, "b1"), (2, "b2")}


def test_change_feed_after_vacuum_and_noop_diff(spark, table):
    """changes() between identical snapshots returns an empty feed --
    including after vacuum deleted the v0 data dir the old empty-read
    fallback depended on."""
    table.merge(spark.createDataFrame([(1, "A"), (2, "B"), (3, "C")],
                                      "k long, v string"))
    table.merge(spark.createDataFrame([(1, "AA"), (2, "BB"), (3, "CC")],
                                      "k long, v string"))
    table.vacuum(keep_last=2)  # v0 fully unreferenced -> dir deleted
    assert not os.path.isdir(table._data_dir(0))
    cdf = table.changes(1, 1)
    assert cdf.count() == 0
    assert "change_type" in cdf.columns


def test_vacuum_is_bucket_granular_physical_delete(spark, tmp_path):
    """After a delete-merge + vacuum(keep_last=1), NO parquet file under
    the table root may still hold a deleted row -- the old version
    dir's rewritten-bucket partitions must be gone even though the dir
    itself is still referenced for untouched buckets."""
    t = SnapshotMergeTable(spark, str(tmp_path / "forget"), keys=["k"], n_buckets=4)
    rows = [(i, f"v{i}") for i in range(40)]
    t.overwrite(spark.createDataFrame(rows, "k long, v string"))
    doomed = {7}  # one key -> one affected bucket

    def forget(existing, updates):
        merged = existing.join(updates, ["k"], "left_anti").unionByName(updates)
        return merged.filter(~merged.k.isin(list(doomed)))

    t.merge(
        spark.createDataFrame([(7, "v7")], "k long, v string"), merge_fn=forget
    )
    t.vacuum(keep_last=1)
    assert t.versions() == [1]
    # logical read: key gone, everything else intact
    keys = {r["k"] for r in t.read().collect()}
    assert keys == set(range(40)) - doomed
    # physical read: scan EVERY remaining parquet file directly
    raw = spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "forget" / "data")
    )
    assert {r["k"] for r in raw.select("k").collect()} == set(range(40)) - doomed


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("tx"), st.integers(0, 12), st.text("ab", min_size=1, max_size=2)),
            st.tuples(st.just("merge_b"), st.integers(0, 12), st.text("cd", min_size=1, max_size=2)),
            st.tuples(st.just("vacuum"), st.integers(1, 3), st.just("")),
        ),
        min_size=2,
        max_size=6,
    )
)
def test_property_txn_vacuum_keeps_retained_tx_state_readable(
    spark, tmp_path_factory, ops
):
    """Invariant: after ANY interleaving of transactions, direct merges,
    and commit-log vacuums, every (table, version) named by a RETAINED
    tx record is still readable -- consistent cross-table time travel
    survives retention."""
    root = tmp_path_factory.mktemp("txv")
    a = SnapshotMergeTable(spark, str(root / "a"), keys=["k"], n_buckets=4)
    b = SnapshotMergeTable(spark, str(root / "b"), keys=["k"], n_buckets=4)
    a.overwrite(spark.createDataFrame([(0, "a0")], "k long, v string"))
    b.overwrite(spark.createDataFrame([(0, "b0")], "k long, v string"))
    tables = {"a": a, "b": b}
    for kind, k, v in ops:
        if kind == "tx":
            tx = SnapshotTransaction(str(root), tables)
            tx.stage_merge("a", spark.createDataFrame([(k, v)], "k long, v string"))
            tx.stage_merge("b", spark.createDataFrame([(k, v)], "k long, v string"))
            tx.commit()
        elif kind == "merge_b":
            b.merge(spark.createDataFrame([(k, v)], "k long, v string"))
        else:
            SnapshotTransaction(str(root), tables).vacuum(retain_last_tx=k)
    coord = SnapshotTransaction(str(root), tables)
    import json as _json

    for tx_id in coord._tx_ids():
        with open(os.path.join(str(root), "_tx", f"tx{tx_id}.json")) as f:
            record = _json.load(f)
        for name, vs in record.items():
            # must not raise, and must hold the seed row at minimum
            rows = {r["k"] for r in tables[name].read(version=vs["version"]).collect()}
            assert 0 in rows, (tx_id, name, vs)


def test_vacuum_under_reader_contract(spark, table):
    """Pin the documented vacuum/reader semantics (VERDICT r5 item 6):
    vacuum does not coordinate with readers. An expired version's
    read() raises, and a DataFrame built BEFORE the vacuum over that
    version fails once its files are gone -- readers pin history via
    keep_last, nothing else."""
    table.merge(spark.createDataFrame([(1, "a2")], "k long, v string"))
    table.merge(spark.createDataFrame([(1, "a3")], "k long, v string"))
    stale = table.read(version=0)  # plan built while v0 is alive
    assert table.vacuum(keep_last=1) == [0, 1]
    with pytest.raises(Exception):
        table.read(version=0)
    with pytest.raises(Exception):
        stale.collect()  # undefined-behavior contract: at best an error
    # retained snapshot unaffected
    assert _rows(table.read()) == {(1, "a3"), (2, "b"), (3, "c")}


@pytest.mark.parametrize(
    "stage,crash_table",
    [("prepare", "a"), ("prepare", "b"), ("swing", "a"), ("swing", "b")],
)
def test_txn_crash_anywhere_recovers_all_or_nothing(spark, two_tables, stage, crash_table):
    """Kill the commit at EVERY per-table step (VERDICT r5 item 7):
    during either table's manifest write (before the commit point) or
    either table's pointer swing (after it). recover() must land the
    transaction all-or-nothing, and -- the regression this found -- a
    crash mid-prepare must not wedge the next writer on the orphaned
    staged manifest's O_EXCL slot."""
    root, tables = two_tables
    tx = SnapshotTransaction(root, tables)
    tx.stage_merge("a", spark.createDataFrame([(2, "A2")], "k long, v string"))
    tx.stage_merge("b", spark.createDataFrame([(3, "B3")], "k long, v string"))
    victim = tables[crash_table]
    attr = "_write_manifest" if stage == "prepare" else "_swing_pointer"
    orig = getattr(victim, attr)

    def _crash(*a, **k):
        raise OSError("kill -9 (forced by test)")

    setattr(victim, attr, _crash)
    with pytest.raises(OSError):
        tx.commit()
    setattr(victim, attr, orig)

    committed = os.path.exists(os.path.join(root, "_tx", "tx0.json"))
    assert committed == (stage == "swing")  # record IS the commit point
    SnapshotTransaction(root, tables).recover()
    versions = {n: t.current_version() for n, t in tables.items()}
    if committed:  # all-new
        assert versions == {"a": 1, "b": 1}
        assert _rows(tables["a"].read()) == {(1, "a1"), (2, "A2")}
        assert _rows(tables["b"].read()) == {(1, "b1"), (2, "b2"), (3, "B3")}
    else:  # all-old, and no staged manifest survives to block the CAS
        assert versions == {"a": 0, "b": 0}
        assert _rows(tables["a"].read()) == {(1, "a1"), (2, "a2")}
        assert _rows(tables["b"].read()) == {(1, "b1"), (2, "b2")}
        assert tables["a"].versions() == [0]
        assert tables["b"].versions() == [0]
    # liveness: the next transaction commits cleanly either way
    tx2 = SnapshotTransaction(root, tables)
    tx2.stage_merge("a", spark.createDataFrame([(7, "next")], "k long, v string"))
    tx2.stage_merge("b", spark.createDataFrame([(7, "next")], "k long, v string"))
    tx2.commit()
    assert (7, "next") in _rows(tables["a"].read())
    assert (7, "next") in _rows(tables["b"].read())


def test_empty_snapshots_round_trip(spark):
    """Empty snapshots are first-class: v0 may be created empty (a
    pipeline bootstrap) and a later merge may empty every bucket (a
    full purge). Both must stay readable and diffable -- the per-version
    schema sidecar supplies what zero data files cannot."""
    import tempfile

    path = tempfile.mkdtemp(prefix="snap_empty_") + "/t"
    t = SnapshotMergeTable(spark, path, keys=["k"], n_buckets=4)
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    assert t.current_version() == 0
    assert t.read().count() == 0 and t.read().columns == ["k", "v"]
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t.merge(rows)
    assert t.read().count() == 2
    assert t.read(version=0).count() == 0  # time travel to the empty v0
    assert t.changes(0, 1).count() == 2
    # a merge_fn that deletes every existing key empties the table
    t.merge(rows, merge_fn=lambda ex, up: ex.join(up, ["k"], "left_anti"))
    assert t.read().count() == 0 and t.read().columns == ["k", "v"]
    assert t.changes(1, 2).count() == 2


def test_empty_table_round_trip(spark, tmp_path):
    """An emptied table is still a table: after a purge down to zero
    rows the next merge must find it and upsert into it (a new version),
    not re-seed it as a first write."""
    t = SnapshotMergeTable(spark, str(tmp_path / "t"), keys=["k"], n_buckets=8)
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    assert t.read().count() == 0 and t.read().columns == ["k", "v"]
    # merge into the existing empty table upserts (not first-write)
    t.merge(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert t.current_version() == 1
    assert _rows(t.read()) == {(1, "a")}
    # delete back down to zero rows; the table stays readable
    t.merge(
        spark.createDataFrame([(1, None)], "k long, v string"),
        merge_fn=lambda ex, up: ex.join(up, ["k"], "left_anti"),
    )
    assert t.current_version() == 2
    assert t.read().count() == 0 and t.read().columns == ["k", "v"]
    t.merge(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t.current_version() == 3
    assert _rows(t.read()) == {(2, "b")}
    assert _rows(t.read(version=1)) == {(1, "a")}


def test_change_feed_duplicate_keys_pair_by_row_identity(spark, tmp_path):
    """Replayed (duplicate-key) rows pair by (keys, occurrence), never
    key-only: 2 old x 2 new copies of an updated key emit exactly 2
    update rows (a key-only diff fans out 2x2=4 and a delta consumer
    double-applies the update); surplus copies on one side classify as
    insert/delete -- the correct multiset delta."""
    t = SnapshotMergeTable(
        spark, str(tmp_path / "dup"), keys=["k"], n_buckets=4
    )
    # v0: key 1 twice (replay), key 2 once, key 3 twice
    t.overwrite(
        spark.createDataFrame(
            [(1, 10), (1, 10), (2, 20), (3, 30), (3, 30)], "k long, v long"
        )
    )
    # v1: key 1 updated (still 2 copies), key 2 now 2 copies (one
    # surplus insert), key 3 down to 1 copy (one surplus delete)
    t.overwrite(
        spark.createDataFrame(
            [(1, 11), (1, 11), (2, 20), (2, 20), (3, 30)], "k long, v long"
        )
    )
    rows = [
        (r["change_type"], r["k"], r["v"], r["v__before"])
        for r in t.changes(0, 1, before_image=True).collect()
    ]
    assert sorted(rows) == [
        ("delete", 3, None, 30),
        ("insert", 2, 20, None),
        ("update", 1, 11, 10),
        ("update", 1, 11, 10),
    ]
    # and the (count, sum) view maintained from this feed is exact
    from os___mapreduceframework_spark.operators.ivm import maintain_sum_count
    from pyspark.sql import functions as F

    m0 = (
        t.read(version=0)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total"),
        )
    )
    m1 = maintain_sum_count(
        m0, t.changes(0, 1, before_image=True), "k", "v"
    )
    got = {(r["k"], r["n"], float(r["total"])) for r in m1.collect()}
    assert got == {(1, 2, 22.0), (2, 2, 40.0), (3, 1, 30.0)}


def test_change_feed_null_key_rows_classify_by_presence(spark, tmp_path):
    """A NULL key is a legitimate key value (the NULL-FK fixtures ship
    them): its delete and update must classify as delete/update, not
    'insert', and an unchanged NULL-key row sharing a rewritten bucket
    must not leak a phantom change. Classification keys off join-side
    presence (__occ), never key-column nullness."""
    t = SnapshotMergeTable(
        spark, str(tmp_path / "nullk"), keys=["k"], n_buckets=2
    )
    t.overwrite(
        spark.createDataFrame([(None, 5), (None, 7), (1, 10)], "k long, v long")
    )
    # v1: NULL-key v=5 updated to 6, NULL-key v=7 deleted, key 1 kept
    t.overwrite(
        spark.createDataFrame([(None, 6), (1, 10)], "k long, v long")
    )
    rows = sorted(
        (r["change_type"], r["k"], r["v"], r["v__before"])
        for r in t.changes(0, 1, before_image=True).collect()
    )
    assert rows == [
        ("delete", None, None, 7),
        ("update", None, 6, 5),
    ]
