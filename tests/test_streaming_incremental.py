"""Incremental streaming dedup: the cross-micro-batch contract.

The registered query's oracle only exercises the single-batch case (the
fixture is one parquet file). These tests replay a two-batch stream with
``maxFilesPerTrigger=1`` and pin the semantics that distinguish
*incremental* dedup from batch-window dedup:

1. first-seen-wins ACROSS batches: a later batch containing a smaller
   doc_id for an existing fingerprint does NOT steal the canonical;
2. every document is emitted exactly once, in its arrival batch;
3. state carries only the canonical id (per-fingerprint memory is O(1)).
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from os___mapreduceframework_spark.streaming.incremental import incremental_dedup

_SEQ = itertools.count()


def _run_two_batches(spark, batch1: list[tuple], batch2: list[tuple]):
    """Write two parquet files, stream them one file per micro-batch,
    collect the update-mode output per batch."""
    root = tempfile.mkdtemp(prefix="inc_dedup_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    cols = ["doc_id", "fp"]
    # distinct file names; written sequentially so mod-times order them
    pd.DataFrame(batch1, columns=cols).to_parquet(os.path.join(src, "b1.parquet"))
    pd.DataFrame(batch2, columns=cols).to_parquet(os.path.join(src, "b2.parquet"))
    os.utime(os.path.join(src, "b2.parquet"), times=None)

    docs = (
        spark.readStream.schema("doc_id long, fp string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = incremental_dedup(docs)

    batches: dict[int, pd.DataFrame] = {}

    def capture(batch_df, batch_id):
        batches[batch_id] = batch_df.toPandas()

    name = f"inc_dedup_sink_{next(_SEQ)}"
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(capture)
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(root, ignore_errors=True)
    return batches


def test_first_seen_wins_across_batches(spark):
    # batch 1: doc 10 creates cluster for fp "a"; batch 2 brings doc 3
    # (smaller id, same fp) -- it must become a DUPLICATE of 10, because
    # 10 was seen first. A batch-window recompute would flip this.
    batches = _run_two_batches(
        spark,
        batch1=[(10, "a"), (20, "b")],
        batch2=[(3, "a"), (21, "b"), (30, "c")],
    )
    all_rows = pd.concat(batches.values(), ignore_index=True)
    got = {
        int(r.doc_id): (int(r.cluster_id), int(r.is_duplicate))
        for r in all_rows.itertuples()
    }
    assert got == {
        10: (10, 0),
        20: (20, 0),
        3: (10, 1),   # first-seen canonical survives
        21: (20, 1),
        30: (30, 0),
    }


def test_each_doc_emitted_once_in_arrival_batch(spark):
    batches = _run_two_batches(
        spark,
        batch1=[(1, "x"), (2, "x")],
        batch2=[(3, "x")],
    )
    assert len(batches) >= 2
    ordered = [batches[k] for k in sorted(batches)]
    ids_per_batch = [sorted(int(d) for d in b["doc_id"]) for b in ordered if len(b)]
    assert ids_per_batch == [[1, 2], [3]]
    # in-batch ties break by min(doc_id)
    first = ordered[0]
    assert int(first.loc[first.doc_id == 2, "cluster_id"].iloc[0]) == 1


def test_registered_query_matches_oracle_shape(spark, duck):
    from os___mapreduceframework_spark import queries as registry
    from tests.conftest import TEST_SF_DIR, assert_matches_oracle

    registry._load_all()
    q = registry.REGISTRY["stream_incremental_dedup"]
    assert_matches_oracle(q.fn(spark, TEST_SF_DIR), duck, q.oracle)


def _run_minhash_two_batches(
    spark, batch1: list[tuple], batch2: list[tuple], root: str | None = None
):
    """Stream two parquet files of (doc_id, text) one per micro-batch
    through incremental_minhash_dedup (state under ``root/state``);
    return {doc_id: cluster_id}."""
    import shutil

    from os___mapreduceframework_spark.streaming.incremental import (
        incremental_minhash_dedup,
    )

    root = root or tempfile.mkdtemp(prefix="inc_mh_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    cols = ["doc_id", "text"]
    pd.DataFrame(batch1, columns=cols).to_parquet(os.path.join(src, "b1.parquet"))
    pd.DataFrame(batch2, columns=cols).to_parquet(os.path.join(src, "b2.parquet"))

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = incremental_minhash_dedup(docs, os.path.join(root, "state"))
    got = {int(r.doc_id): int(r.cluster_id) for r in out.collect()}
    shutil.rmtree(root, ignore_errors=True)
    return got


WORDS = "the quick brown fox jumps over a lazy dog near riverbank ".split()


def _doc(*words):
    return " ".join(words)


def test_minhash_first_seen_wins_across_batches(spark):
    # identical texts share every band; batch 2's doc 3 must JOIN doc
    # 10's existing cluster (first-seen), not found its own despite the
    # smaller id. doc 99 is unrelated (disjoint vocabulary).
    same = _doc(*WORDS, *WORDS)
    other = _doc(*["alpha beta gamma delta epsilon zeta eta theta"] * 3)
    got = _run_minhash_two_batches(
        spark,
        batch1=[(10, same), (99, other)],
        batch2=[(3, same)],
    )
    assert got[10] == 10
    assert got[3] == 10, got  # joined the existing cluster
    assert got[99] == 99


def test_minhash_batch_mates_cluster_within_batch(spark):
    same = _doc(*WORDS, *WORDS)
    got = _run_minhash_two_batches(
        spark,
        batch1=[(7, same), (5, same)],
        batch2=[(9, _doc("unrelated", "tokens", "entirely", "different",
                          "vocabulary", "set"))],
    )
    assert got[5] == 5 and got[7] == 5  # one-hop min within the batch
    assert got[9] == 9


def test_minhash_short_doc_is_own_cluster(spark):
    # a doc with <3 words has no shingles/bands: own cluster, present
    got = _run_minhash_two_batches(
        spark,
        batch1=[(1, "hi there")],
        batch2=[(2, "hi there")],
    )
    assert got == {1: 1, 2: 2}


def test_minhash_unreadable_registry_raises(spark, monkeypatch):
    # the band registry turns unreadable between batch 1 and batch 2
    # (its files vanish, the dir stays). Batch 2 must fail the stream:
    # assigning it as if no registry existed would silently forget
    # every cluster batch 1 registered.
    from os___mapreduceframework_spark.streaming import incremental

    root = tempfile.mkdtemp(prefix="inc_mh_unreadable_")
    registry_dir = os.path.join(root, "state", "band_registry")
    calls = itertools.count(1)
    real = incremental.band_signatures

    def empties_registry_on_second_call(df):
        if next(calls) == 2:
            for f in os.listdir(registry_dir):
                os.remove(os.path.join(registry_dir, f))
        return real(df)

    monkeypatch.setattr(
        incremental, "band_signatures", empties_registry_on_second_call
    )
    same = _doc(*WORDS, *WORDS)
    try:
        with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
            _run_minhash_two_batches(
                spark, batch1=[(10, same)], batch2=[(3, same)], root=root
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# compaction: one-hop chains -> full connected components (compact_state)
# ---------------------------------------------------------------------------


def _synthetic_minhash_state(state_dir: str) -> str:
    """Write MinHash dedup state with a one-hop chain (3 -> 2 -> 1), a
    singleton (9) and a registry collision linking 7 and 5."""
    out_dir = os.path.join(state_dir, "assignments")
    reg_dir = os.path.join(state_dir, "band_registry")
    os.makedirs(out_dir)
    os.makedirs(reg_dir)
    pd.DataFrame(
        [(1, 1, 0), (2, 1, 1), (3, 2, 1), (5, 5, 0), (7, 7, 0), (9, 9, 0)],
        columns=["doc_id", "cluster_id", "is_duplicate"],
    ).to_parquet(os.path.join(out_dir, "p.parquet"))
    pd.DataFrame(
        [(0, "s1", 1), (1, "s2", 5), (1, "s2", 7)],
        columns=["band", "sig", "canonical"],
    ).to_parquet(os.path.join(reg_dir, "p.parquet"))
    return state_dir


# compact_state over _synthetic_minhash_state
_COMPACTED = {
    1: (1, 0),
    2: (1, 1),
    3: (1, 1),  # chain collapsed: was 3 -> 2
    5: (5, 0),
    7: (5, 1),  # registry collision merged 7 into 5
    9: (9, 0),
}


def _assignments(df) -> dict:
    return {
        int(r.doc_id): (int(r.cluster_id), int(r.is_duplicate))
        for r in df.collect()
    }


def test_compact_state_collapses_chains_and_registry_collisions(spark):
    """One-hop online assignment can leave C->B while B->A (chain), and
    the registry can hold the same band key under two canonicals (linked
    only later). Compaction must collapse both to the component min and
    rewrite the on-disk state. Built from synthetic state so the chain
    is deterministic (engineering a real LSH chain from texts is
    probabilistic by nature)."""
    from os___mapreduceframework_spark.streaming.incremental import compact_state

    root = _synthetic_minhash_state(tempfile.mkdtemp(prefix="compact_"))
    reg_dir = os.path.join(root, "band_registry")
    assert _assignments(compact_state(spark, root)) == _COMPACTED
    # on-disk registry rewritten: one row per key, compacted canonicals
    reg = {
        (int(r.band), str(r.sig)): int(r.canonical)
        for r in spark.read.parquet(reg_dir).collect()
    }
    assert reg == {(0, "s1"): 1, (1, "s2"): 5}
    shutil.rmtree(root, ignore_errors=True)


def test_minhash_compact_every_preserves_assignments(spark):
    """compact_every wiring: with identical texts across batches the
    one-hop assignments are already transitive, so inline compaction
    must be a no-op on the visible result -- and later batches must
    still resolve against the rewritten (compacted) registry."""
    from os___mapreduceframework_spark.streaming.incremental import (
        incremental_minhash_dedup,
    )

    same = _doc(*WORDS, *WORDS)
    root = tempfile.mkdtemp(prefix="inc_mh_ce_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    for i, batch in enumerate([[(10, same)], [(20, same)], [(3, same)]]):
        pd.DataFrame(batch, columns=["doc_id", "text"]).to_parquet(
            os.path.join(src, f"b{i}.parquet")
        )
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = incremental_minhash_dedup(docs, os.path.join(root, "state"), compact_every=2)
    got = {int(r.doc_id): int(r.cluster_id) for r in out.collect()}
    assert got == {10: 10, 20: 10, 3: 10}
    shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental span dedup: the cross-micro-batch first-arrival contract
# ---------------------------------------------------------------------------


def _run_spans_two_batches(spark, batch1: list[tuple], batch2: list[tuple]):
    """Stream two parquet files of (doc_id, text) one per micro-batch
    through incremental_span_dedup; return {doc_id: [(start, end, nw)]}."""
    import shutil

    from os___mapreduceframework_spark.streaming.incremental import (
        incremental_span_dedup,
    )

    root = tempfile.mkdtemp(prefix="inc_spans_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    cols = ["doc_id", "text"]
    pd.DataFrame(batch1, columns=cols).to_parquet(os.path.join(src, "b1.parquet"))
    pd.DataFrame(batch2, columns=cols).to_parquet(os.path.join(src, "b2.parquet"))

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = incremental_span_dedup(docs, os.path.join(root, "state"))
    got: dict[int, list[tuple]] = {}
    for r in out.orderBy("doc_id", "span_start").collect():
        got.setdefault(int(r.doc_id), []).append(
            (int(r.span_start), int(r.span_end), int(r.n_windows))
        )
    shutil.rmtree(root, ignore_errors=True)
    return got


_T25 = " ".join(f"w{i}" for i in range(25))          # 25 tokens: 6 windows
_U25 = " ".join(f"u{i}" for i in range(25))          # disjoint vocabulary
_V25 = " ".join(f"v{i}" for i in range(25))


def test_spans_first_arrival_wins_across_batches(spark):
    # batch 1 registers doc 10's windows; batch 2's doc 3 repeats the
    # exact text -- ALL its windows hit the registry, one merged span
    # covering the whole doc. doc 10 keeps its canonical: no spans. A
    # batch-window recompute would instead vote doc 3 (smaller id) the
    # canonical and flag doc 10 -- the contract this test separates.
    got = _run_spans_two_batches(
        spark,
        batch1=[(10, _T25), (20, _U25)],
        batch2=[(3, _T25), (30, _V25)],
    )
    assert got == {3: [(1, 25, 6)]}


def test_spans_keep_first_within_batch_and_canonical_survives(spark):
    # within batch 1 the least (doc_id, start) occurrence is canonical:
    # doc 5 keeps, doc 7 is flagged; a batch-2 replay (doc 9) is flagged
    # against the registry, and doc 5's canonical is never stolen.
    got = _run_spans_two_batches(
        spark,
        batch1=[(7, _T25), (5, _T25)],
        batch2=[(9, _T25)],
    )
    assert got == {7: [(1, 25, 6)], 9: [(1, 25, 6)]}
    # a window registered in batch 1 that occurs twice in batch 2 (a
    # replayed doc row): its canonical arrived earlier, so neither
    # batch-2 occurrence is kept -- n_windows counts both copies
    got = _run_spans_two_batches(
        spark,
        batch1=[(5, _T25)],
        batch2=[(9, _T25), (9, _T25)],
    )
    assert got == {9: [(1, 25, 12)]}


def test_spans_registry_compaction_preserves_dedup_memory(spark):
    # three batches of the same text: the append log holds the hash set
    # three times (last-seen re-appends). Compaction folds it to one
    # row per hash; a registry compacted between runs must still flag
    # replays -- modeled by compacting mid-stream via on_batch being
    # unavailable (compaction is an offline job), so: drive, compact,
    # verify rows_after == distinct and the log shrank.
    import shutil

    from os___mapreduceframework_spark.streaming.incremental import (
        compact_span_registry,
        incremental_span_dedup,
    )

    root = tempfile.mkdtemp(prefix="inc_spans_cmp_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    cols = ["doc_id", "text"]
    pd.DataFrame([(1, _T25)], columns=cols).to_parquet(
        os.path.join(src, "b1.parquet")
    )
    pd.DataFrame([(2, _T25)], columns=cols).to_parquet(
        os.path.join(src, "b2.parquet")
    )
    pd.DataFrame([(3, _T25)], columns=cols).to_parquet(
        os.path.join(src, "b3.parquet")
    )
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = os.path.join(root, "state")
    out = incremental_span_dedup(docs, state)
    assert sorted(int(r.doc_id) for r in out.collect()) == [2, 3]
    stats = compact_span_registry(spark, state)
    # 6 windows per batch, re-appended by each of the 3 batches
    assert stats["rows_before"] == 18
    assert stats["rows_after"] == 6
    assert stats["bytes_after"] < stats["bytes_before"]
    # the compacted registry still answers lookups: one row per hash,
    # last-seen stamp is the final batch
    reg = spark.read.parquet(os.path.join(state, "window_registry"))
    assert reg.count() == reg.select("h").distinct().count() == 6
    assert reg.agg({"b": "max"}).collect()[0][0] == 2
    shutil.rmtree(root, ignore_errors=True)


def test_spans_registry_retention_drops_stale_hashes(spark):
    # batch 0 registers _T25's windows; batches 1 and 2 carry disjoint
    # content, so _T25's last-seen stays 0. retain_batches=2 keeps only
    # hashes seen in batches > max_b - 2 = 0 -- _T25's are dropped,
    # the recent vocabularies stay. (The documented tradeoff: _T25
    # re-arriving AFTER the horizon would become a fresh canonical.)
    import shutil

    from os___mapreduceframework_spark.streaming.incremental import (
        compact_span_registry,
        incremental_span_dedup,
    )

    root = tempfile.mkdtemp(prefix="inc_spans_ttl_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    cols = ["doc_id", "text"]
    pd.DataFrame([(1, _T25)], columns=cols).to_parquet(
        os.path.join(src, "b1.parquet")
    )
    pd.DataFrame([(2, _U25)], columns=cols).to_parquet(
        os.path.join(src, "b2.parquet")
    )
    pd.DataFrame([(3, _V25)], columns=cols).to_parquet(
        os.path.join(src, "b3.parquet")
    )
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = os.path.join(root, "state")
    incremental_span_dedup(docs, state)
    stats = compact_span_registry(spark, state, retain_batches=2)
    assert stats["rows_before"] == 18
    assert stats["rows_after"] == 12  # _U25 + _V25 windows survive
    reg = spark.read.parquet(os.path.join(state, "window_registry"))
    assert reg.agg({"b": "min"}).collect()[0][0] == 1
    shutil.rmtree(root, ignore_errors=True)


def _spans_session(spark, root: str, name: str, rows: list[tuple], fresh: bool):
    """Run one complete streaming session (its own source dir + stream)
    against the shared state dir; return the session's spans frame."""
    from os___mapreduceframework_spark.streaming.incremental import (
        incremental_span_dedup,
    )

    src = os.path.join(root, f"src_{name}")
    os.makedirs(src)
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(src, "b1.parquet")
    )
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return incremental_span_dedup(docs, os.path.join(root, "state"), fresh=fresh)


def test_spans_resume_carries_compacted_memory_across_sessions(spark):
    # ADVICE r8 (medium): the retention policy is only real if a
    # compacted registry can seed the NEXT session. Session 1 registers
    # _T25; compact_span_registry folds the log; session 2 RESUMES and
    # replays the text under a new doc_id -- it must be flagged against
    # the carried (compacted) memory, and the spans output must be
    # session-2-only.
    import shutil

    from os___mapreduceframework_spark.streaming.incremental import (
        compact_span_registry,
    )

    root = tempfile.mkdtemp(prefix="inc_spans_resume_")
    out1 = _spans_session(spark, root, "s1", [(1, _T25), (2, _T25)], fresh=True)
    assert sorted(int(r.doc_id) for r in out1.collect()) == [2]
    stats = compact_span_registry(spark, os.path.join(root, "state"))
    assert stats["rows_after"] == 6
    out2 = _spans_session(spark, root, "s2", [(9, _T25), (10, _U25)], fresh=False)
    got = {
        int(r.doc_id): (int(r.span_start), int(r.span_end), int(r.n_windows))
        for r in out2.collect()
    }
    # doc 9 replays session-1 content: flagged by the compacted registry;
    # doc 2's session-1 span is NOT in the session-2 output.
    assert got == {9: (1, 25, 6)}
    # batch stamps continue past the prior session's horizon (session 1
    # ended at b=0; session 2's single batch stamps b=1), so a
    # retain_batches horizon spans sessions monotonically.
    reg = spark.read.parquet(os.path.join(root, "state", "window_registry"))
    assert reg.agg({"b": "max"}).collect()[0][0] == 1
    shutil.rmtree(root, ignore_errors=True)


def test_spans_resume_rejects_string_hash_registry(spark):
    # a pre-r10 registry stores h as a string; resuming must refuse it
    # by name instead of appending binary digests that never match
    root = tempfile.mkdtemp(prefix="inc_spans_oldreg_")
    reg = os.path.join(root, "state", "window_registry")
    spark.createDataFrame([("a" * 32, 0)], "h string, b long").write.parquet(reg)
    with pytest.raises(ValueError, match="window_registry.*string"):
        _spans_session(spark, root, "s2", [(9, _T25)], fresh=False)
    shutil.rmtree(root, ignore_errors=True)


def test_spans_fresh_session_forgets_by_design(spark):
    # the default (fresh=True) is the per-query contract: a replayed
    # text in a NEW fresh session becomes a fresh canonical. This is
    # the control run proving resume (above) is what carries memory.
    import shutil

    root = tempfile.mkdtemp(prefix="inc_spans_fresh_")
    _spans_session(spark, root, "s1", [(1, _T25)], fresh=True)
    out2 = _spans_session(spark, root, "s2", [(9, _T25)], fresh=True)
    assert out2.count() == 0
    shutil.rmtree(root, ignore_errors=True)


def test_spans_registry_swap_crash_recovery(spark):
    # every crash point of a registry rewrite's swap leaves a
    # recoverable state: (a) ._compact only -> discarded; (b) live dir
    # renamed to ._old, new rename not yet done -> ._old restored; (c)
    # both live and ._old -> leftover dropped. Both rewrites run the
    # one swap: the span registry (a resumed session after (b) still
    # dedups -- the memory was never lost) and compact_state's two
    # MinHash dirs (a compaction after (b) still sees every doc).
    import shutil

    from os___mapreduceframework_spark.streaming.incremental import (
        _recover,
        compact_state,
    )

    root = tempfile.mkdtemp(prefix="inc_spans_crash_")
    _spans_session(spark, root, "s1", [(1, _T25)], fresh=True)
    mh_state = _synthetic_minhash_state(os.path.join(root, "mh"))
    cases = [
        (
            [os.path.join(root, "state", "window_registry")],
            lambda: sorted(
                int(r.doc_id)
                for r in _spans_session(
                    spark, root, "s2", [(9, _T25)], fresh=False
                ).collect()
            ),
            [9],
        ),
        (
            [
                os.path.join(mh_state, "assignments"),
                os.path.join(mh_state, "band_registry"),
            ],
            lambda: _assignments(compact_state(spark, mh_state)),
            _COMPACTED,
        ),
    ]
    for dirs, resume, want in cases:
        # (a) incomplete rewrite
        for d in dirs:
            shutil.copytree(d, d + "._compact")
            _recover(d)
            assert not os.path.isdir(d + "._compact") and os.path.isdir(d)

        # (b) crash between the two renames: NO live dir on disk -- the
        # exact window ADVICE r8 flagged. The next run restores it.
        for d in dirs:
            os.rename(d, d + "._old")
            assert not os.path.isdir(d)
        assert resume() == want

        # (c) crash after the swap completed but before cleanup
        for d in dirs:
            shutil.copytree(d, d + "._old")
            _recover(d)
            assert not os.path.isdir(d + "._old") and os.path.isdir(d)
    shutil.rmtree(root, ignore_errors=True)


def test_spans_short_docs_have_no_windows(spark):
    # docs under SPAN_W tokens contribute no windows: no spans, no
    # registry entries, and the empty-output schema still reads back.
    got = _run_spans_two_batches(
        spark,
        batch1=[(1, "hi there")],
        batch2=[(2, "hi there")],
    )
    assert got == {}


def test_spans_registered_query_matches_oracle(spark, duck):
    from os___mapreduceframework_spark import queries as registry
    from tests.conftest import TEST_SF_DIR, assert_matches_oracle

    registry._load_all()
    q = registry.REGISTRY["stream_incremental_spans"]
    assert_matches_oracle(q.fn(spark, TEST_SF_DIR), duck, q.oracle)


# ---------------------------------------------------------------------------
# live Search pipeline: the dir watcher feeding the flagship aggregation
# ---------------------------------------------------------------------------


def test_live_search_counts_watched_dirs(spark):
    """Entries visible at start drain into the exact batch answer:
    substring-filtered, counted per name ACROSS watched dirs (duplicate
    names in two dirs -> cnt 2, Search.cpp:98-111 semantics)."""
    from os___mapreduceframework_spark.streaming.live_search import (
        drain_live_search,
    )

    root = tempfile.mkdtemp(prefix="live_search_")
    d1, d2 = os.path.join(root, "d1"), os.path.join(root, "d2")
    os.makedirs(d1)
    os.makedirs(d2)
    for d, names in ((d1, ["app.log", "notes.txt"]), (d2, ["app.log", "sys.log"])):
        for n in names:
            open(os.path.join(d, n), "w").write("x")

    out = drain_live_search(spark, [d1, d2], "log", os.path.join(root, "ckpt"))
    got = {r["name"]: r["cnt"] for r in out.collect()}
    assert got == {"app.log": 2, "sys.log": 1}
    shutil.rmtree(root, ignore_errors=True)


def test_live_search_accumulates_across_restarts(spark):
    """The live contract: a resumed pipeline (same checkpoint) folds new
    entries into the EXISTING aggregation state -- counts accumulate,
    nothing is recounted, non-matching names stay filtered out."""
    from os___mapreduceframework_spark.streaming.live_search import (
        drain_live_search,
    )

    root = tempfile.mkdtemp(prefix="live_search_resume_")
    watched = os.path.join(root, "watched")
    os.makedirs(watched)
    ckpt = os.path.join(root, "ckpt")
    open(os.path.join(watched, "app.log"), "w").write("x")

    first = drain_live_search(spark, [watched], "log", ckpt)
    assert {r["name"]: r["cnt"] for r in first.collect()} == {"app.log": 1}

    import time

    time.sleep(0.01)  # strictly-larger mtime_ns for the watcher offset
    open(os.path.join(watched, "error.log"), "w").write("x")
    open(os.path.join(watched, "readme.md"), "w").write("x")

    second = drain_live_search(spark, [watched], "log", ckpt)
    got = {r["name"]: r["cnt"] for r in second.collect()}
    assert got == {"app.log": 1, "error.log": 1}
    shutil.rmtree(root, ignore_errors=True)


def test_transform_with_state_gated_on_protobuf(spark):
    """transformWithStateInPandas needs protobuf (its state-server
    protocol); the container doesn't ship it, so the query must
    register exactly when the dependency is importable. When present,
    the result must equal the batch aggregate."""
    from os___mapreduceframework_spark.queries import queries
    from os___mapreduceframework_spark.streaming.transform_state import (
        PROTOBUF_AVAILABLE,
    )

    registered = "stream_transform_with_state" in queries()
    assert registered == PROTOBUF_AVAILABLE
    if not PROTOBUF_AVAILABLE:
        import pytest

        pytest.skip("protobuf not shipped in this container")
    from pyspark.sql import functions as F

    from os___mapreduceframework_spark.sources import load_table
    from tests.conftest import TEST_SF_DIR

    got = queries()["stream_transform_with_state"](spark, TEST_SF_DIR)
    want = (
        load_table(spark, TEST_SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("user_id")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_transform_with_state_semantic_twin_without_protobuf():
    """Parity evidence for the protobuf-gated operator in THIS container:
    drive the StatefulProcessor's init/handleInputRows directly against
    a fake typed-state handle (the class imports without protobuf; only
    the runtime state-server protocol needs it) and pin its multi-batch
    accumulation bit-equal to the batch aggregate -- the same contract
    the applyInPandasWithState twin (stream_stateful_user_stats) checks
    against the driver's DuckDB oracle."""
    import pandas as pd

    from os___mapreduceframework_spark.streaming.transform_state import (
        make_user_stats_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    proc = make_user_stats_processor()()
    proc.init(FakeHandle())
    batches = [
        pd.DataFrame({"value": [1.25, 2.5]}),
        pd.DataFrame({"value": [0.0001]}),
        pd.DataFrame({"value": [10.0, -3.75, 0.33]}),
    ]
    # feed the same key across three micro-batches; the LAST emitted row
    # is the final state (update-mode sink keeps max-n_events per key)
    final = None
    for b in batches:
        (final,) = list(proc.handleInputRows(("u1",), [b], None))
    proc.close()
    all_values = pd.concat(batches)["value"]
    assert final["user_id"].iloc[0] == "u1"
    assert int(final["n_events"].iloc[0]) == len(all_values)
    want_total = round(sum(int(round(float(b["value"].sum()) * 10_000)) for b in batches) / 10_000, 2)
    assert float(final["total_value"].iloc[0]) == want_total


def test_transform_with_state_oracle_is_twin_oracle():
    """The gated query and its applyInPandasWithState twin must keep
    IDENTICAL oracles -- that is what makes the twin's green driver row
    parity evidence for the gated operator."""
    from os___mapreduceframework_spark import queries as registry
    from os___mapreduceframework_spark.streaming.transform_state import (
        PROTOBUF_AVAILABLE,
    )

    oracles = registry.oracle_sql()
    twin = oracles["stream_stateful_user_stats"]
    if PROTOBUF_AVAILABLE:
        assert oracles["stream_transform_with_state"].strip() == twin.strip()
    else:
        # gated out here; pin the twin's oracle to the gated module's
        # inline oracle string so a drift in either side fails
        import inspect

        from os___mapreduceframework_spark.streaming import transform_state

        src = inspect.getsource(transform_state)
        for needle in ("COUNT(*) AS n_events", "AS total_value", "GROUP BY user_id"):
            assert needle in src and needle in twin
