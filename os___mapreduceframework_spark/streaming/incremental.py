"""Incremental (streaming) deduplication: cluster ids assigned as
documents arrive.

The batch dedup operators (operators.dedup) recompute clusters from the
full corpus; a production ingest pipeline instead sees documents as a
stream and must answer "is this a duplicate of anything seen so far?"
at arrival time. That is arbitrary keyed state -- exactly what
``applyInPandasWithState`` provides: the stream is hash-partitioned by
content fingerprint, each fingerprint group owns a tiny state record
(the canonical doc_id first seen for that fingerprint), and every
incoming document is emitted immediately with its cluster assignment.

Semantics (first-seen-wins, the standard ingest-dedup contract):

- the first document observed for a fingerprint becomes the cluster
  canonical; ties inside one micro-batch break by min(doc_id) so the
  assignment is deterministic under any partitioning;
- every later document with the same fingerprint is marked a duplicate
  of that canonical, including later micro-batches (state persists);
- state per fingerprint is one long -- at 100 TB the state store holds
  one entry per *distinct* document, it never stores text. With a
  RocksDB state store backend and watermark-based TTL (drop fingerprints
  older than the dedup horizon) the state stays bounded on unbounded
  streams.

The reference has no streaming surface (SURVEY.md section 2.3); this is
charter scope. Its grouping contract is the reference's shuffle
(MapReduceFramework.cpp:166-230): all values of one key meet in one
place -- here, one state partition, incrementally.

The streams own only their input side (micro-batch, registry, state
store); the answer is the batch operator's, called: the span stream
runs ``operators.dedup._keep_first_spans`` per batch, ``stream_cms_cells``
runs ``cms_cells``. Both on-disk registries are rewritten by one
crash-safe ``_swap``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from os___mapreduceframework_spark.operators.minhash import (
    _BANDS_ONLY_SQL,
    band_signatures,
)
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.scratch import scratch_dir
from os___mapreduceframework_spark.streaming.windows import drain, run_to_completion

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (one file -> one
    micro-batch with availableNow; multi-file dirs replay as several
    batches, which tests/test_streaming_incremental.py exercises)."""
    return (
        spark.readStream.format("parquet")
        .schema(DOCUMENTS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def incremental_dedup(docs: DataFrame) -> DataFrame:
    """Streaming first-seen dedup over a (doc_id, fp) stream.

    ``docs`` must have columns ``doc_id`` (long) and ``fp`` (string
    fingerprint). Returns a streaming frame of
    ``(doc_id, cluster_id, is_duplicate)`` in update mode: one row per
    incoming document, emitted in the micro-batch it arrives in.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def assign(key, pdfs, state: GroupState):
        if state.exists:
            (canonical,) = state.get
        else:
            canonical = None
        out = []
        # materialize the whole group before sorting: a group larger
        # than the Arrow batch size arrives as SEVERAL chunks, and a
        # per-chunk sort would let a later chunk's smaller doc_id be
        # marked duplicate of an earlier chunk's larger one
        ids = sorted(int(d) for pdf in pdfs for d in pdf["doc_id"])
        for doc_id in ids:
            if canonical is None:
                canonical = doc_id
            out.append((doc_id, canonical, int(doc_id != canonical)))
        state.update((canonical,))
        yield pd.DataFrame(out, columns=["doc_id", "cluster_id", "is_duplicate"])

    return docs.groupBy("fp").applyInPandasWithState(
        assign,
        outputStructType="doc_id long, cluster_id long, is_duplicate int",
        stateStructType="canonical long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _recover(d: str) -> None:
    """Roll a crashed ``_swap`` of ``d`` forward or back: drop an
    unswapped ``._compact``; restore ``._old`` if ``d`` is missing (the
    crash hit between the renames), else drop it."""
    tmp_dir, old_dir = d + "._compact", d + "._old"
    if os.path.isdir(tmp_dir):
        shutil.rmtree(tmp_dir)
    if os.path.isdir(old_dir):
        if os.path.isdir(d):
            shutil.rmtree(old_dir)
        else:
            os.rename(old_dir, d)


def _swap(d: str) -> None:
    """Replace ``d`` by the rewrite at ``d._compact``. A complete dir
    is on disk under ``d`` or ``d._old`` at every crash point (ADVICE
    r8: rmtree-then-rename left a window with none)."""
    os.rename(d, d + "._old")
    os.rename(d + "._compact", d)
    shutil.rmtree(d + "._old")


def compact_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Offline consolidation for the incremental MinHash dedup state:
    collapse one-hop assignment chains into full connected components.

    Online assignment (incremental_minhash_dedup) is one-hop by design:
    a doc takes the min canonical among its band-mates *at arrival*, so
    a batch containing B~A and C~B (where C shares no band with A) ends
    with C -> B while B -> A. Completion is an offline pass -- exactly
    the online-assign / offline-consolidate split production ingest
    dedup uses. The component graph is

    - chain edges: every non-identity assignment (doc -> cluster), and
    - registry collisions: (canonical -> min canonical) per band key,
      covering clusters first linked by later batches re-registering an
      existing key under a different canonical.

    Both state dirs are rewritten so subsequent micro-batches assign
    against the compacted canonicals; both are written aside while the
    live dirs (which the plans read) exist, then ``_swap``-ped in.
    Returns the compacted assignments
    frame (doc_id, cluster_id, is_duplicate). At 100 TB the state is a
    Delta/Iceberg table and this is the periodic MERGE-rewrite job; the
    CC operator is the same min-label propagation as the batch
    dedup_clusters query.
    """
    from os___mapreduceframework_spark.operators.dedup import connected_components

    registry_dir = os.path.join(state_dir, "band_registry")
    out_dir = os.path.join(state_dir, "assignments")
    _recover(out_dir)
    _recover(registry_dir)
    assignments = spark.read.parquet(out_dir)
    registry = spark.read.parquet(registry_dir)

    key_min = registry.groupBy("band", "sig").agg(F.min("canonical").alias("kmin"))
    reg_edges = (
        registry.join(key_min, ["band", "sig"])
        .filter(F.col("canonical") != F.col("kmin"))
        .select(F.col("canonical").alias("doc_a"), F.col("kmin").alias("doc_b"))
    )
    chain_edges = (
        assignments.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b"))
    )
    edges = chain_edges.union(reg_edges).distinct()
    roots = connected_components(edges).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("root")
    )

    compacted = (
        assignments.join(roots, assignments["doc_id"] == roots["node"], "left_outer")
        .select(
            "doc_id",
            F.coalesce("root", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "is_duplicate", (F.col("doc_id") != F.col("cluster_id")).cast("int")
        )
    )
    new_registry = (
        registry.join(roots, registry["canonical"] == roots["node"], "left_outer")
        .select(
            "band",
            "sig",
            F.coalesce("root", F.col("canonical")).alias("canonical"),
        )
        .groupBy("band", "sig")
        .agg(F.min("canonical").alias("canonical"))
    )
    compacted.write.parquet(out_dir + "._compact")
    new_registry.write.parquet(registry_dir + "._compact")
    _swap(out_dir)
    _swap(registry_dir)
    return spark.read.parquet(out_dir)


def incremental_minhash_dedup(
    docs_stream: DataFrame, state_dir: str, compact_every: int | None = None
) -> DataFrame:
    """Streaming NEAR-dup dedup: MinHash/LSH cluster assignment at
    arrival time via foreachBatch + a band-key registry.

    Per micro-batch (all relational, no driver loops over rows):

    1. compute LSH band signatures for the batch's documents
       (operators.dedup.band_signatures -- same family as the batch
       dedup_minhash_pairs operator);
    2. look up each signature in the accumulated registry
       (band, sig) -> canonical doc_id of the earliest doc that held it;
    3. assign ``cluster_id``: the minimum matched registry canonical if
       any band was seen before (first-seen-wins -- a later doc joins
       the existing cluster even if its own id is smaller), else the
       minimum batch-mate doc_id sharing a band (one-hop LSH
       assignment, deterministic);
    4. append the batch's (band, sig, canonical) keys to the registry
       (append + min-on-read ≡ an upsert; at scale the registry is a
       Delta/Iceberg table and step 4 is a MERGE, step 2 a key-join
       against it).

    First-seen-wins across batches: a later near-dup can only join an
    existing cluster, never steal its canonical. Assignment is one-hop
    (no transitive closure at arrival); ``compact_state`` is the
    completion path -- pass ``compact_every=N`` to run it inline after
    every N-th micro-batch, exactly how production ingest dedup splits
    online-assignment from offline-consolidation.

    Returns the static assignments frame (doc_id, cluster_id,
    is_duplicate) after the stream drains.
    """
    registry_dir = os.path.join(state_dir, "band_registry")
    out_dir = os.path.join(state_dir, "assignments")
    shutil.rmtree(state_dir, ignore_errors=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.take(1):
            return
        batch_df = batch_df.cache()
        sigs = band_signatures(batch_df).cache()
        # one-hop minimum among batch-mates holding the same band key
        batch_min = sigs.groupBy("band", "sig").agg(
            F.min("doc_id").alias("batch_canon")
        )
        per_doc = sigs.join(batch_min, ["band", "sig"])
        # missing dir = first batch; a failed read must raise
        if os.path.isdir(registry_dir):
            registry = spark.read.parquet(registry_dir).groupBy("band", "sig").agg(
                F.min("canonical").alias("reg_canon")
            )
            per_doc = per_doc.join(registry, ["band", "sig"], "left_outer")
        else:
            per_doc = per_doc.withColumn("reg_canon", F.lit(None).cast("long"))
        # first-seen-wins: a registry hit (min ignores the null misses)
        # outranks batch-mates -- a later near-dup joins the existing
        # cluster even when its own id is smaller
        assigned = per_doc.groupBy("doc_id").agg(
            F.coalesce(F.min("reg_canon"), F.min("batch_canon")).alias("cluster_id")
        )
        # docs with no shingles (no band rows) are their own cluster
        full = (
            batch_df.select("doc_id")
            .join(assigned, "doc_id", "left_outer")
            .select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
            .withColumn(
                "is_duplicate",
                (F.col("doc_id") != F.col("cluster_id")).cast("int"),
            )
        )
        full.write.mode("append").parquet(out_dir)
        # register EVERY distinct cluster canonical this batch put on a
        # key (not just the minimum): min-collapsing would lose the
        # second canonical when one batch bridges two clusters through
        # a shared band, and compact_state's registry-collision edges
        # could then never merge them. Reads still take min-per-key, so
        # online assignment is unchanged; rows grow only by distinct
        # clusters per key per batch.
        new_keys = (
            sigs.join(full.select("doc_id", "cluster_id"), "doc_id")
            .select("band", "sig", F.col("cluster_id").alias("canonical"))
            .distinct()
        )
        new_keys.write.mode("append").parquet(registry_dir)
        sigs.unpersist()
        batch_df.unpersist()
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_state(spark, state_dir)

    drain(docs_stream, lambda w: w.foreachBatch(process_batch))
    spark = docs_stream.sparkSession
    if not os.path.isdir(out_dir):  # empty stream: nothing was written
        return spark.createDataFrame(
            [], "doc_id long, cluster_id long, is_duplicate int"
        )
    return spark.read.parquet(out_dir)


@query(
    "stream_incremental_minhash",
    oracle=f"""
    WITH {_BANDS_ONLY_SQL},
    m AS (SELECT x.doc_id, MIN(y.doc_id) AS cluster_id
          FROM bands x
          JOIN bands y ON x.band = y.band AND x.sig = y.sig
          GROUP BY x.doc_id)
    SELECT d.doc_id,
           COALESCE(m.cluster_id, d.doc_id) AS cluster_id,
           CAST(d.doc_id <> COALESCE(m.cluster_id, d.doc_id) AS INT)
             AS is_duplicate
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
    ORDER BY d.doc_id
    """,
    doc="Incremental near-dup over the documents stream: LSH band keys "
    "registered as docs arrive (foreachBatch + band registry); each doc "
    "gets min(one-hop band-mates, registry canonicals) at arrival. The "
    "fixture arrives as one batch, so the oracle is the one-hop batch "
    "LSH assignment; cross-batch first-seen is pinned in "
    "tests/test_streaming_incremental.py.",
)
def q_stream_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = scratch_dir("inc_minhash_state")
    docs = documents_stream(spark, sf_dir).select("doc_id", "text")
    out = incremental_minhash_dedup(docs, state_dir)
    return out.orderBy("doc_id")


@query(
    "stream_incremental_dedup",
    oracle="""
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id,
           CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS INT)
             AS is_duplicate
    FROM documents
    ORDER BY doc_id
    """,
    doc="Incremental dedup over the documents stream: keyed state per "
    "content fingerprint assigns first-seen cluster ids at arrival time "
    "(applyInPandasWithState). The fixture arrives as one micro-batch, so "
    "first-seen == min(doc_id) and the batch window oracle applies; the "
    "cross-batch first-seen contract is pinned by "
    "tests/test_streaming_incremental.py.",
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_stream(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("fp")
    )
    # full session parallelism: this stream's cost is minhash compute
    # over the doc batch, not state-store setup (measured: 8 partitions
    # is ~35% SLOWER here, the opposite of the windowed aggs)
    out = run_to_completion(
        incremental_dedup(docs), "update", shuffle_partitions=None
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Streaming span-level dedup: incremental window-hash registry
# ---------------------------------------------------------------------------

from os___mapreduceframework_spark.operators.dedup import (  # noqa: E402
    SPAN_W,
    _SPAN_ISLAND_CTES,
    _SPAN_KEEP_FIRST_ORACLE,
    _SPAN_TOKEN_CTES,
    _keep_first_spans,
    _span_window_hashes,
)


def incremental_span_dedup(
    docs_stream: DataFrame,
    state_dir: str,
    w: int = SPAN_W,
    on_batch=None,
    fresh: bool = True,
) -> DataFrame:
    """Streaming KEEP-FIRST span dedup: removal spans assigned at
    arrival time via foreachBatch + a window-hash registry — the
    span-level twin of ``incremental_minhash_dedup``.

    Per micro-batch (all relational, no driver loops over rows):

    1. hash every ``w``-token sliding window of the batch's documents
       (operators.dedup._span_window_hashes — the batch detect stage);
    2. a window occurrence is NON-CANONICAL (a removal hit) iff its
       hash was registered by ANY earlier batch, or an earlier
       occurrence exists in this batch (the batch keep-first query's
       own vote, ``_keep_first_spans``, with the registry as ``seen``);
    3. merge each doc's hits into maximal spans (gaps-and-islands —
       documents are atomic within a batch, so the merge is complete
       at arrival) and append them to the output;
    4. append the batch's distinct window hashes to the registry.

    First-seen-wins across batches: the canonical occurrence of every
    duplicated substring is the first one to ARRIVE; later batches can
    only add removal spans, never steal a canonical. State is one
    16-byte md5 digest per distinct window — the same rows the batch detect
    stage shuffles; at 100 TB the registry is a Delta/Iceberg table
    (step 2 a key semi-join against it, step 4 a MERGE), exactly the
    online-assign / offline-table split of ``incremental_minhash_dedup``.

    State growth and its policy (VERDICT r7 item 5): the registry grows
    with the corpus's DISTINCT windows — it is the dedup memory, so it
    is NOT watermarked away like a windowed aggregate. Two bounds keep
    it operable at any horizon:

    * registry rows carry the batch they were LAST SEEN in (every batch
      re-appends the hashes it touched, so max(b) per hash is a
      last-seen stamp), and ``compact_span_registry`` rewrites the
      append log as one row per hash — the same distinct the read path
      applies on every lookup, now applied to the storage;
    * ``compact_span_registry(retain_batches=N)`` additionally drops
      hashes not seen in the last N batches — the documented
      retention tradeoff: a window whose last occurrence scrolled past
      the horizon is re-admitted once (its next occurrence becomes a
      fresh canonical) instead of being held as state forever. Exactly
      the TTL every production dedup registry runs with; leaving it
      None keeps exact keep-first-forever semantics.

    ``on_batch``: optional ``callback(batch_id)`` invoked after each
    micro-batch commits (spans written, registry appended) — the scale
    bench uses it to sample registry bytes per batch.

    ``fresh``: ``True`` (default) wipes ``state_dir`` and starts with
    an empty registry — each call is an independent session (what every
    registered query wants). ``False`` RESUMES against the existing
    registry: the spans output is still per-session (old spans
    removed), but the window-hash memory — possibly compacted by
    ``compact_span_registry`` between sessions — seeds step 2, so
    content first seen in an earlier session still dedups (ADVICE r8:
    without this, the retention policy could never carry memory across
    sessions). Batch stamps continue from the registry's max(b)+1 so
    ``retain_batches`` horizons stay monotone across sessions; a
    half-finished compaction swap is rolled forward/back first
    (``_recover``).

    Returns the static spans frame
    ``(doc_id, span_start, span_end, n_windows)`` after the stream
    drains.
    """
    registry_dir = os.path.join(state_dir, "window_registry")
    out_dir = os.path.join(state_dir, "spans")
    batch_base = 0
    if fresh:
        shutil.rmtree(state_dir, ignore_errors=True)
    else:
        shutil.rmtree(out_dir, ignore_errors=True)
        _recover(registry_dir)
        if os.path.isdir(registry_dir):
            prior = docs_stream.sparkSession.read.parquet(registry_dir)
            # the window hash became a 16-byte binary digest in r10; a
            # registry written before stores it as a string, and binary
            # rows appended to it would never match its old hashes
            h_type = next((f.dataType for f in prior.schema if f.name == "h"), None)
            if not isinstance(h_type, T.BinaryType):
                raise ValueError(
                    f"span registry {registry_dir} stores window hashes as "
                    f"{h_type.simpleString() if h_type else 'nothing'}, not the "
                    "16-byte binary digest this version writes; resume from a "
                    "registry written by this version or start fresh (fresh=True)"
                )
            if "b" in prior.columns:
                prev_max = prior.agg(F.max("b")).collect()[0][0]
                batch_base = (prev_max if prev_max is not None else -1) + 1

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.take(1):
            return
        wins = _span_window_hashes(batch_df, w).cache()
        # Missing-path ONLY means "no memory yet" (first batch of a
        # fresh session). Any other read failure must raise: swallowing
        # it would silently forget every registered window (ADVICE r8 —
        # a crashed compaction used to present exactly this way; the
        # swap is now recovered at session start instead).
        if os.path.isdir(registry_dir):
            seen = spark.read.parquet(registry_dir).select("h").distinct()
        else:
            seen = None
        # spans first (the plan reads the OLD registry listing), then
        # the registry append — never the reverse. The batch stamp
        # makes max(b) per hash a LAST-SEEN marker (every batch
        # re-appends the hashes it touched), which is what the
        # retention compaction keys on.
        _keep_first_spans(wins, w, seen).write.mode("append").parquet(out_dir)
        wins.select("h").distinct().withColumn(
            "b", F.lit(batch_base + batch_id).cast("long")
        ).write.mode("append").parquet(registry_dir)
        wins.unpersist()
        if on_batch is not None:
            on_batch(batch_id)

    drain(docs_stream, lambda w: w.foreachBatch(process_batch))
    spark = docs_stream.sparkSession
    if not os.path.isdir(out_dir):  # empty stream: nothing was written
        return spark.createDataFrame(
            [], "doc_id long, span_start long, span_end long, n_windows long"
        )
    return spark.read.parquet(out_dir)


def dir_bytes(d: str) -> int:
    """Bytes on disk under ``d`` (0 when it does not exist)."""
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs
    )


def compact_span_registry(
    spark: SparkSession, state_dir: str, retain_batches: int | None = None
) -> dict:
    """Rewrite the span-dedup window-hash registry as ONE row per hash
    (its last-seen batch), optionally dropping hashes not seen within
    the last ``retain_batches`` batches — the registry's growth policy
    (see ``incremental_span_dedup``'s docstring).

    The append log holds one (h, b) row per (batch, touched hash):
    content re-arriving every batch re-appends its hashes, so the log
    grows with TRAFFIC while the distinct state grows only with novel
    windows. Compaction folds the log back to the state: max(b) per h
    is the last-seen stamp, the retention filter drops the horizon's
    tail, and the rewrite is written aside (``._compact``) and swapped
    in crash-safely (``_swap``, the same swap ``compact_state`` runs on
    the MinHash registry; ``_recover`` rolls a crashed one forward or
    back at the next compaction or resumed session). Dropping a hash re-admits its
    NEXT occurrence as a fresh canonical; it never un-removes spans
    already emitted. At 100 TB this is the registry table's
    MERGE+VACUUM maintenance job, run between streaming sessions
    (never concurrent with one — same contract as ``compact_state``).

    Returns {"rows_before", "rows_after", "bytes_before", "bytes_after"}.
    """
    registry_dir = os.path.join(state_dir, "window_registry")
    _recover(registry_dir)
    if not os.path.isdir(registry_dir):
        # a session over an EMPTY corpus never fires a batch, so no
        # registry dir exists: nothing to compact, and the next
        # resumed session already treats the missing dir as
        # first-batch. Reading unconditionally raised PATH_NOT_FOUND
        # here (caught by the r10 degenerate-matrix sweep; latent
        # since the r9 registration).
        return {
            "rows_before": 0,
            "rows_after": 0,
            "bytes_before": 0,
            "bytes_after": 0,
        }

    log = spark.read.parquet(registry_dir)
    if "b" not in log.columns:  # pre-stamp registry: treat as one batch
        log = log.withColumn("b", F.lit(0).cast("long"))
    rows_before, bytes_before = log.count(), dir_bytes(registry_dir)
    state = log.groupBy("h").agg(F.max("b").alias("b"))
    if retain_batches is not None:
        horizon = log.agg(F.max("b")).collect()[0][0] or 0
        state = state.filter(F.col("b") > horizon - retain_batches)
    tmp_dir = registry_dir + "._compact"
    state.write.parquet(tmp_dir)
    rows_after, bytes_after = (
        spark.read.parquet(tmp_dir).count(),
        dir_bytes(tmp_dir),
    )
    _swap(registry_dir)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
    }


@query(
    "stream_incremental_spans",
    oracle=_SPAN_KEEP_FIRST_ORACLE,
    doc="Incremental KEEP-FIRST span dedup over the documents stream: "
    "every 20-token window hash is registered as docs arrive "
    "(foreachBatch + window-hash registry); occurrences of an already-"
    "registered window — or a later occurrence within the batch — "
    "become removal spans in their arrival batch, islands merged per "
    "doc. The fixture arrives as one batch, so the oracle is the batch "
    "keep-first vote (dedup_spans_keep_first); the cross-batch "
    "first-arrival contract is pinned in "
    "tests/test_streaming_incremental.py.",
)
def q_stream_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = scratch_dir("inc_spans_state")
    docs = documents_stream(spark, sf_dir).select("doc_id", "text")
    out = incremental_span_dedup(docs, state_dir)
    return out.orderBy("doc_id", "span_start")


# Arrival-order vote for the two-session lifecycle: session 1 = even
# doc_ids, session 2 = the rest (odd + NULL). An occurrence is a
# removal hit iff ANY occurrence precedes it in (session, doc_id,
# start) order — session-1 registrations via the carried registry,
# session-2 precedence via the within-batch keep-first vote. Output is
# session 2's spans only (session 1's are a previous session's output).
_SPAN_RESUME_ORACLE = f"""
    WITH {_SPAN_TOKEN_CTES},
    ranked AS (SELECT doc_id, strt,
                      ROW_NUMBER() OVER (PARTITION BY h
                          ORDER BY (CASE WHEN doc_id IS NOT NULL
                                          AND doc_id % 2 = 0
                                     THEN 0 ELSE 1 END),
                                   doc_id NULLS FIRST,
                                   strt NULLS FIRST) AS rn
               FROM wins),
    hits AS (SELECT doc_id, strt, strt + {SPAN_W - 1} AS e
             FROM ranked
             WHERE rn > 1
               AND NOT (doc_id IS NOT NULL AND doc_id % 2 = 0)),
    {_SPAN_ISLAND_CTES}
    SELECT doc_id, MIN(strt) AS span_start, MAX(e) AS span_end,
           CAST(SUM(m) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """


@query(
    "stream_incremental_spans_resume",
    oracle=_SPAN_RESUME_ORACLE,
    doc="The span-dedup registry LIFECYCLE as one query: session 1 "
    "streams the even-doc_id half of the corpus (fresh registry), "
    "compact_span_registry folds the append log (the between-sessions "
    "maintenance job), then session 2 RESUMES (fresh=False, the ADVICE "
    "r8 resume mode) over the remaining docs — its removal spans are "
    "voted against the carried COMPACTED memory plus session-2 "
    "keep-first precedence. Oracle: the keep-first vote under the "
    "arrival order (parity, doc_id, start), hits restricted to "
    "session-2 docs — compaction without retention must be invisible "
    "to results, so any compaction/resume defect breaks the hash "
    "match. Registry growth/retention policy measured in "
    "SCALE_r09_stream_spans_steady.json.",
)
def q_stream_incremental_spans_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from os___mapreduceframework_spark.sources import load_table

    state_dir = scratch_dir("inc_spans_resume_state")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_even = F.coalesce(F.col("doc_id") % 2 == 0, F.lit(False))
    s1_dir = scratch_dir("inc_spans_resume_s1")
    s2_dir = scratch_dir("inc_spans_resume_s2")
    # one file per session dir -> one micro-batch per session
    docs.filter(is_even).coalesce(1).write.mode("overwrite").parquet(s1_dir)
    docs.filter(~is_even).coalesce(1).write.mode("overwrite").parquet(s2_dir)

    def session_stream(d: str) -> DataFrame:
        return spark.readStream.schema("doc_id long, text string").parquet(d)

    incremental_span_dedup(session_stream(s1_dir), state_dir, fresh=True)
    compact_span_registry(spark, state_dir)
    out = incremental_span_dedup(
        session_stream(s2_dir), state_dir, fresh=False
    )
    return out.orderBy("doc_id", "span_start")


# ---------------------------------------------------------------------------
# Streaming count-min sketch: mergeable frequency state as streaming agg
# ---------------------------------------------------------------------------

from os___mapreduceframework_spark.operators.sketches import (  # noqa: E402
    CMS_D,
    CMS_W,
    _DUCK_X,
    _h,
    cms_cells,
)


@query(
    "stream_cms_cells",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    tx AS (SELECT token, {_DUCK_X} AS x FROM tok),
    cells AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS j, {_h(j, 'x')} AS cell, COUNT(*) AS n"
        f" FROM tx GROUP BY cell" for j in range(CMS_D)
      )}
    )
    SELECT j, cell, n FROM cells
    ORDER BY j, cell
    """,
    doc=f"Count-min sketch ({CMS_D}x{CMS_W}) built INCREMENTALLY over the "
    "document stream: the cell grid is a streaming groupBy count in "
    "complete mode, so each micro-batch folds its tokens into the "
    "sketch and the state never exceeds D*W counters no matter how "
    "long the stream runs -- the canonical mergeable-sketch-as-"
    "streaming-state pattern. Batch-equivalent by construction; the "
    "oracle is the batch sketch (exact hash-level equality).",
)
def q_stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_stream(spark, sf_dir)
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    out = run_to_completion(cms_cells(tokens), "complete")
    return out.orderBy("j", "cell")
