"""Training-data export operators (charter extension, SURVEY.md M4):
sequence packing, deterministic hash-sharded export, and mergeable
distinct-vocabulary sketches.

The reference ends its pipeline at a sorted stdout sink
(Search.cpp:113-117); an LLM-data engine ends at training shards. These
operators cover the last mile: pack documents into fixed-token-length
training sequences, export the corpus as deterministically sharded
parquet, and summarize vocabulary size with mergeable sketches --
each expressed as DataFrame transforms so Catalyst plans them.

Scale notes (100 TB):

- **Packing** runs one window per source partition (parallel across
  sources, the same layout curation_token_budget_stratified uses). A
  single global stream would serialize into one window partition; if
  one giant source dominates, sub-split it with a hash-salt on doc_id
  ranges and offset the per-split cumulative sums by a broadcast
  per-split total (two-pass scan, both parallel).
- **Sharding** is a hash-prefix partition of the key space: shard
  assignment is a pure scan-local expression (no shuffle to decide),
  and the write is `partitionBy(shard)` so each output directory is an
  independently consumable training shard. md5-prefix sharding is
  reproducible across engines, runs, and repartitioning -- rerunning
  the export on an appended corpus moves no existing document to a new
  shard (unlike round-robin / monotonically_increasing_id).
- **Vocabulary sketch**: HLL sketches are the mergeable-state pattern:
  per-source sub-aggregates are tiny fixed-size buffers, the global
  union is exact over sketches (commutative + idempotent), so a 100 TB
  vocabulary count never materializes the token set. The same shape
  serves per-shard -> corpus rollups of any distinct-count statistic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import load_table

SEQ_LEN = 512  # tokens per packed training sequence

from os___mapreduceframework_spark.scratch import scratch_dir as _scratch


def pack_sequences(docs: DataFrame, seq_len: int = SEQ_LEN) -> DataFrame:
    """Assign each document to a fixed-length training sequence (pack):
    concatenate documents in doc_id order within each source and chunk
    the token stream every ``seq_len`` tokens; a document's pack is the
    chunk its first token lands in (GPT-style boundary-agnostic
    packing). Deterministic given the corpus -- no RNG, no partition-
    order dependence; ``toks`` is the final concatenation-order
    tiebreak so replayed doc_ids carrying corrected text still pack
    identically on every engine (bit-identical duplicate rows are
    interchangeable either way). Returns (source, doc_id, toks,
    pack_id)."""
    toks = F.size(F.split("text", " "))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id", "toks")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        docs.select("source", "doc_id", toks.alias("toks"))
        .withColumn("start", F.sum("toks").over(w) - F.col("toks"))
        .withColumn("pack_id", F.floor(F.col("start") / seq_len))
        .drop("start")
    )


@query(
    "training_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS toks
      FROM documents
    ), c AS (
      SELECT source, toks,
             SUM(toks) OVER (PARTITION BY source ORDER BY doc_id, toks
                             ROWS UNBOUNDED PRECEDING) - toks AS start
      FROM t
    )
    SELECT source, CAST(start // {SEQ_LEN} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS total_tokens
    FROM c
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
    doc=f"Sequence packing manifest: documents chunked into {SEQ_LEN}-"
    "token training sequences per source (running token count -> pack "
    "assignment), summarized as docs/tokens per pack. The window runs "
    "per source partition so packing parallelizes across sources; the "
    "manifest is what a loader joins against to materialize each pack "
    "(module doc covers the giant-single-source split).",
)
def q_training_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        pack_sequences(docs)
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
        )
        .orderBy("source", "pack_id")
    )


@query(
    "training_shard_export",
    oracle="""
    SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY shard
    ORDER BY shard
    """,
    doc="Hash-sharded training export: every document lands in shard "
    "md5(doc_id)[0] (16 shards), written as partitionBy(shard) parquet "
    "and read back for the per-shard manifest -- the hash match proves "
    "the exported artifact, not just the plan. Shard choice is a "
    "scan-local expression (no shuffle to decide, stable under "
    "re-runs/appends); each shard directory is an independently "
    "consumable, statistically-uniform sample of the corpus.",
)
def q_training_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("training_shards")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    )
    docs.write.mode("overwrite").partitionBy("shard").parquet(path)
    # schema-explicit read-back: an empty corpus writes zero shard dirs
    # and inference would fail; the writer's schema is authoritative
    back = spark.read.schema(docs.schema).parquet(path)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        )
        .orderBy("shard")
    )


@query(
    "vocab_hll_rollup",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT source, COUNT(DISTINCT tok) AS exact_distinct_tokens,
           TRUE AS est_within_tol
    FROM toks GROUP BY source
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT tok), TRUE FROM toks
    ORDER BY source
    """,
    doc="Mergeable distinct-vocabulary sketch: one HLL sketch of the "
    "token set per source (map-side combinable fixed-size state), then "
    "a sketch-union rollup to the corpus-wide estimate -- distinct "
    "counting whose shuffle carries kilobyte sketches instead of the "
    "token set. The per-source/global two-level shape is the standard "
    "100 TB rollup for any distinct statistic. HLL estimates are "
    "engine-specific, so the registered contract audits them in-plan: "
    "exact countDistinct columns + a <15%-relative-error flag per row, "
    "which DuckDB hash-matches (exact cols + TRUE flags); the sketch "
    "path alone is the 100 TB production form.",
)
def q_vocab_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    per_source = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct_tokens"),
        F.hll_sketch_agg("tok").alias("sk"),
    )
    global_est = per_source.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est")
    )
    global_row = (
        toks.agg(F.countDistinct("tok").alias("exact_distinct_tokens"))
        .crossJoin(F.broadcast(global_est))
        .select(F.lit("ALL").alias("source"), "exact_distinct_tokens", "est")
    )
    per_source_est = per_source.select(
        "source",
        "exact_distinct_tokens",
        F.hll_sketch_estimate("sk").cast("long").alias("est"),
    )
    return (
        per_source_est.unionByName(global_row)
        .select(
            "source",
            "exact_distinct_tokens",
            # an empty vocabulary has no relative error: the estimate is
            # within tolerance iff it is also empty (NULL sketch union
            # counts as 0) -- avoids 0/0 under ANSI on an empty corpus
            F.when(
                F.col("exact_distinct_tokens") == 0,
                F.coalesce(F.col("est"), F.lit(0)) == 0,
            )
            .otherwise(
                F.abs(F.col("est") - F.col("exact_distinct_tokens"))
                / F.col("exact_distinct_tokens")
                < 0.15
            )
            .alias("est_within_tol"),
        )
        .orderBy("source")
    )


@query(
    "merge_upsert_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 3
    ),
    upd AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 8 IN (6, 7)
    ),
    merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
    FROM merged
    ORDER BY o_orderkey
    """,
    doc="MERGE-capable sink end-to-end: build a bucket-partitioned "
    "SnapshotMergeTable from an orders slice, MERGE an update batch "
    "containing both matched keys (updated) and unmatched keys "
    "(inserted), read the table back. Only buckets holding update keys "
    "are rewritten, into the next snapshot's version dir (bucket-scoped "
    "copy-on-write is pinned in tests/test_snapshot_table.py). Oracle "
    "is the equivalent anti-join + union.",
)
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from os___mapreduceframework_spark.sinks import SnapshotMergeTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = _scratch("merge_upsert_orders")
    shutil.rmtree(path, ignore_errors=True)  # idempotent per invocation
    table = SnapshotMergeTable(spark, path, keys=["o_orderkey"], n_buckets=16)
    table.overwrite(orders.filter(F.col("o_orderkey") % 4 != 3))
    updates = orders.filter((F.col("o_orderkey") % 8).isin(6, 7)).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    table.merge(updates)
    return (
        table.read()
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).cast("double").alias("price"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "merge_time_travel_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 3
    ),
    upd AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 8 IN (6, 7)
    ),
    v1 AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT 0 AS version, COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM base
    UNION ALL
    SELECT 1, COUNT(*),
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
    FROM v1
    ORDER BY version
    """,
    doc="Snapshot MERGE with TIME TRAVEL (sinks.SnapshotMergeTable): "
    "v0 = orders slice, v1 = MERGE of an update batch (matched keys "
    "doubled, unmatched inserted); BOTH snapshots are then read back "
    "AS OF their version and summarized. Append-only data files + "
    "per-version manifests (files -> manifest -> pointer commit order) "
    "give Iceberg-style snapshot isolation without lakehouse jars; "
    "merge I/O stays proportional to touched buckets, history cost is "
    "bounded by vacuum policy. Oracle reconstructs both states "
    "relationally.",
)
def q_merge_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from os___mapreduceframework_spark.sinks.snapshot_table import (
        SnapshotMergeTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = _scratch("merge_time_travel_orders")
    shutil.rmtree(path, ignore_errors=True)  # idempotent per invocation
    table = SnapshotMergeTable(spark, path, keys=["o_orderkey"], n_buckets=16)
    table.overwrite(orders.filter(F.col("o_orderkey") % 4 != 3))
    updates = orders.filter((F.col("o_orderkey") % 8).isin(6, 7)).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    table.merge(updates)

    def summarize(version: int) -> DataFrame:
        return table.read(version=version).agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        ).select("version", "n_rows", "sum_price")

    return summarize(0).unionByName(summarize(1)).orderBy("version")


@query(
    "merge_change_feed_orders",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 8 IN (6, 7)
    )
    -- DISTINCT: the assertion is about the change SET per key; the
    -- sink's changes() is row-granular, so replayed/duplicated rows
    -- would otherwise multiply through its key full-outer join
    SELECT DISTINCT
           CASE WHEN o_orderkey % 8 = 7 THEN 'insert' ELSE 'update' END
             AS change_type,
           o_orderkey,
           CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
    FROM upd
    ORDER BY o_orderkey
    """,
    doc="Change data feed between snapshots (Delta CDF semantics on "
    "SnapshotMergeTable.changes): the v0->v1 diff of the MERGE from "
    "merge_time_travel_orders surfaces matched keys as 'update' rows "
    "and unmatched keys as 'insert' rows, with after-images. The diff "
    "is a full-outer join of two bucket-pruned snapshot reads on the "
    "table key -- the honest key-level contract for a bucket-granular "
    "table. Oracle derives the same change set relationally.",
)
def q_merge_change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from os___mapreduceframework_spark.sinks.snapshot_table import (
        SnapshotMergeTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = _scratch("merge_change_feed_orders")
    shutil.rmtree(path, ignore_errors=True)  # idempotent per invocation
    table = SnapshotMergeTable(spark, path, keys=["o_orderkey"], n_buckets=16)
    table.overwrite(orders.filter(F.col("o_orderkey") % 4 != 3))
    table.merge(
        orders.filter((F.col("o_orderkey") % 8).isin(6, 7)).select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        )
    )
    return (
        table.changes(0, 1)
        .select(
            "change_type",
            "o_orderkey",
            F.round("o_totalprice", 2).cast("double").alias("price"),
        )
        # change SET per key (see oracle note): row-granular diffs of
        # duplicated rows collapse to the distinct change rows
        .dropDuplicates()
        .orderBy("o_orderkey")
    )


CHUNK_W = 16  # words per chunk (context-window slice)
CHUNK_STRIDE = 8  # overlap = W - stride


@query(
    "training_chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id,
             CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
             CAST(s AS BIGINT) AS start_tok,
             array_to_string(w[CAST(s + 1 AS INT):CAST(s + {CHUNK_W} AS INT)], ' ') AS chunk_text
      FROM t, unnest(range(0, len(w), {CHUNK_STRIDE})) AS u(s)
    )
    SELECT doc_id, chunk_id, start_tok,
           len(string_split(chunk_text, ' ')) AS n_tokens,
           md5(chunk_text) AS chunk_md5
    FROM c
    ORDER BY doc_id, chunk_id
    """,
    doc="Overlapping sliding-window chunking (W=16 words, stride 8) -- the "
    "RAG / long-context training pre-pass. Pure scan-local expression "
    "(sequence + slice + posexplode): no shuffle, no Python; a 100 TB "
    "corpus chunks at full scan parallelism. Chunk identity is "
    "(doc_id, chunk_id) with an md5 for content addressing.",
)
def q_training_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    starts = f"sequence(0, size(w) - 1, {CHUNK_STRIDE})"
    chunk = f"transform({starts}, s -> concat_ws(' ', slice(w, s + 1, {CHUNK_W})))"
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.posexplode(F.expr(chunk)).alias("idx", "chunk_text"))
        .select(
            "doc_id",
            (F.col("idx")).alias("chunk_id"),
            (F.col("idx") * CHUNK_STRIDE).alias("start_tok"),
            F.size(F.split("chunk_text", " ")).alias("n_tokens"),
            F.md5("chunk_text").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "merge_txn_two_tables",
    oracle="""
    WITH items AS (
      SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           ROUND(o.o_totalprice * 2, 2) AS price,
           i.n_items + 100 AS n_items
    FROM orders o JOIN items i USING (o_orderkey)
    WHERE o.o_orderkey % 10 = 0
    ORDER BY o.o_orderkey
    """,
    doc="Atomic multi-table transaction (sinks.SnapshotTransaction): one "
    "commit updates an orders table AND its per-order item-count "
    "rollup; the query reads BOTH tables back post-commit and joins "
    "them, so a torn commit (one table updated, the other not) would "
    "break the oracle. Two-phase prepare/commit-record/roll-forward "
    "protocol; crash recovery pinned in tests/test_snapshot_table.py.",
)
def q_merge_txn_two_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from os___mapreduceframework_spark.sinks.snapshot_table import (
        SnapshotMergeTable,
        SnapshotTransaction,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    items = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    root = _scratch("merge_txn_two_tables")
    shutil.rmtree(root, ignore_errors=True)  # idempotent per invocation
    ta = SnapshotMergeTable(spark, os.path.join(root, "orders"),
                            keys=["o_orderkey"], n_buckets=16)
    tb = SnapshotMergeTable(spark, os.path.join(root, "items"),
                            keys=["o_orderkey"], n_buckets=16)
    ta.overwrite(orders)
    tb.overwrite(items)
    touched = F.col("o_orderkey") % 10 == 0
    tx = SnapshotTransaction(root, {"orders": ta, "items": tb})
    tx.stage_merge(
        "orders",
        orders.filter(touched).select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        ),
    )
    tx.stage_merge(
        "items",
        items.filter(touched).select(
            "o_orderkey", (F.col("n_items") + 100).alias("n_items")
        ),
    )
    tx.commit()
    return (
        ta.read()
        .filter(touched)
        .join(tb.read().filter(touched), "o_orderkey")
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "n_items",
        )
        .orderBy("o_orderkey")
    )


@query(
    "merge_forget_customers",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_forgotten_remaining
    FROM orders
    WHERE o_custkey % 97 <> 0 OR o_custkey IS NULL
    """,
    doc="Right-to-be-forgotten delete: every order of the forgotten "
    "customer set is removed by one bucket-scoped merge, then "
    "vacuum(keep_last=1) expires the pre-delete snapshot INCLUDING the "
    "now-unreferenced bucket partitions inside retained version dirs "
    "-- so the deletion is physical (no file under the table root "
    "still holds a forgotten row; pinned byte-level in "
    "tests/test_snapshot_table.py), not merely invisible. Cost is "
    "proportional to the forgotten customers' buckets, not the table.",
)
def q_merge_forget_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from os___mapreduceframework_spark.sinks.snapshot_table import (
        SnapshotMergeTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _scratch("merge_forget_customers")
    shutil.rmtree(path, ignore_errors=True)  # idempotent per invocation
    table = SnapshotMergeTable(spark, path, keys=["o_orderkey"], n_buckets=16)
    table.overwrite(orders)
    forgotten = orders.filter(F.col("o_custkey") % 97 == 0)

    def forget(existing: DataFrame, updates: DataFrame) -> DataFrame:
        merged = existing.join(updates, ["o_orderkey"], "left_anti").unionByName(
            updates
        )
        # a NULL custkey is NOT a forgotten customer: keep it explicitly.
        # (`x % 97 != 0` alone silently drops NULLs in the buckets the
        # merge touches while untouched buckets keep theirs -- the keep
        # set must not depend on bucket adjacency to a forgotten row.)
        return merged.filter(
            (F.col("o_custkey") % 97 != 0) | F.col("o_custkey").isNull()
        )

    table.merge(forgotten, merge_fn=forget)
    table.vacuum(keep_last=1)
    return table.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.sum((F.col("o_custkey") % 97 == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_forgotten_remaining"),
    )


N_SHUFFLE_SHARDS = 8


@query(
    "training_shuffle_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             md5(doc_id::VARCHAR || ':42') AS hx
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, hx,
             ('0x' || substr(hx, 1, 15))::BIGINT % {N_SHUFFLE_SHARDS} AS shard
      FROM h
    )
    SELECT shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id)
                AS BIGINT) AS pos,
           doc_id, source
    FROM s
    ORDER BY shard, pos
    """,
    doc="Deterministic global training-order shuffle: every document "
    "gets a reproducible pseudo-random position, as (shard, pos) -- "
    "shard from an md5 prefix (scan-local, no shuffle to decide), "
    "position by md5 order WITHIN the shard. The global training order "
    "is (shard, pos), exactly how a 100 TB corpus is shuffled in "
    "practice: a single global ROW_NUMBER would serialize the sort "
    "into one window partition, while per-shard windows run all "
    "shards in parallel and re-running on an appended corpus never "
    "moves an existing doc to another shard. Seed 42 is baked into "
    "the hash input; changing it re-deals the whole permutation.",
)
def q_training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    shard = (
        F.expr("cast(conv(substr(hx, 1, 15), 16, 10) as bigint)")
        % N_SHUFFLE_SHARDS
    )
    w = W.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        docs.select("doc_id", "source", hx.alias("hx"))
        .withColumn("shard", shard)
        .select(
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
            "doc_id",
            "source",
        )
        .orderBy("shard", "pos")
    )
