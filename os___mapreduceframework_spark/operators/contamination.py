"""Benchmark decontamination (charter extension: training-data curation).

A training corpus must not contain the evaluation benchmarks it will be
scored on; every production LLM pipeline runs an n-gram-overlap
decontamination pass (the GPT-3/PaLM recipe: flag a training document
when it shares >= K distinct word n-grams with any eval document). The
reference engine has no such operator -- this extends its
map/shuffle/reduce surface (MapReduceFramework.cpp F2-F7) with the
canonical contamination join, expressed Spark-first.

Scale notes (100 TB):

- The eval set is tiny by construction (benchmarks are MBs; the corpus
  is TBs), so its distinct n-gram set is **broadcast** and the overlap
  check is a broadcast LEFT SEMI join evaluated scan-side -- the 100 TB
  training side never shuffles its n-grams. Only the matched (doc,
  gram) rows (rare) reach the per-doc aggregation, and that aggregate
  is map-side-combined on doc_id.
- Per-doc totals (`n_grams`) are computed as a scan-local expression
  (size of the distinct-gram array), NOT a second aggregation over the
  exploded rows -- one scan, one tiny shuffle of hit counts.
- The contaminated flag is a pure function of (n_shared) so the output
  can feed a quarantine anti-join without re-reading text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from os___mapreduceframework_spark.operators.text import (
    fingerprint_expr,
    fingerprint_sql,
)
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import load_table

# Production pipelines use 8-13-gram overlap (GPT-3 used 13); the
# synthetic fixture corpus draws ~30 vocabulary words into ~25-128-word
# docs, so 3-grams are the statistical analog that actually produces
# overlap at test scale. The operator is n-parameterized; only the
# registered query pins n.
NGRAM = 3
EVAL_MOD = 101  # eval set = doc_id % 101 == 0 (deterministic ~1% sample)
K_CONTAMINATED = 2  # >= K distinct shared n-grams -> contaminated

# one row per (doc, distinct n-gram); grams deduped per doc scan-side
# total expression: greatest(..., 1) keeps the sequence ascending and
# every slice start >= 1 even for docs shorter than n. Catalyst's
# InferFiltersFromGenerate re-evaluates this expression inside the same
# Filter as the size(w) >= n guard, so a partial expression (one that
# errors on short docs) crashes the scan even though those rows are
# being filtered out; short docs here just produce one undersized gram
# that the guard then discards.
_GRAMS_EXPR_TPL = (
    "array_distinct(transform(sequence(1, greatest(size(w) - {n} + 1, 1)), "
    "i -> concat_ws(' ', slice(w, i, {n}))))"
)

_GRAMS_SQL = f"""
    -- canonical document per id: a replayed doc_id carrying corrected
    -- text/source must resolve to ONE deterministic row (field-wise
    -- MIN; engines agree on scalar MIN incl. NULL-skipping) before any
    -- gram/keeper/split logic -- otherwise per-doc gram streams mix
    -- copies and keeper/semi-join gates fan out engine-dependently
    cdoc AS (SELECT doc_id, MIN(text) AS text, MIN(source) AS source
             FROM documents GROUP BY doc_id),
    t AS (SELECT doc_id, string_split(text, ' ') AS w FROM cdoc
          WHERE len(string_split(text, ' ')) >= {NGRAM}),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - {NGRAM} + 2),
                     i -> array_to_string(w[CAST(i AS INT):CAST(i + {NGRAM} - 1 AS INT)], ' '))) AS grams
          FROM t),
    gr AS (SELECT doc_id, unnest(grams) AS gram, len(grams) AS n_grams FROM g)
"""


def canonical_docs(docs: DataFrame) -> DataFrame:
    """One canonical row per doc_id: field-wise MIN of (text, source).
    The duplicate-replay contract for the contamination family (SQL
    twin: the ``cdoc`` CTE in ``_GRAMS_SQL``): scalar MIN is
    NULL-skipping and identically ordered on both engines, so a
    replayed doc_id with corrected fields resolves deterministically
    instead of fanning gram streams and keeper gates per copy."""
    return docs.groupBy("doc_id").agg(
        F.min("text").alias("text"), F.min("source").alias("source")
    )


def doc_ngrams(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """(doc_id, gram, n_grams): one row per distinct word n-gram of each
    document, with the document's distinct-gram count carried along so no
    second aggregation is needed for totals. ``n`` drives BOTH the gram
    width and the min-length filter (it previously only drove the
    filter, silently emitting 3-grams for any n)."""
    grams = F.expr(_GRAMS_EXPR_TPL.format(n=n))
    return (
        docs.filter(F.size(F.split("text", " ")) >= n)
        .select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", grams.alias("grams"))
        .select("doc_id", F.explode("grams").alias("gram"), F.size("grams").alias("n_grams"))
    )


@query(
    "curation_decontaminate",
    oracle=f"""
    WITH {_GRAMS_SQL},
    eval_grams AS (SELECT DISTINCT gram FROM gr WHERE doc_id % {EVAL_MOD} = 0),
    train AS (SELECT * FROM gr WHERE doc_id % {EVAL_MOD} <> 0),
    hits AS (
      SELECT t.doc_id, ANY_VALUE(t.n_grams) AS n_grams, COUNT(*) AS n_shared
      FROM train t JOIN eval_grams e USING (gram)
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_shared,
           (n_shared >= {K_CONTAMINATED}) AS contaminated
    FROM hits
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination: flag training documents sharing >= "
    f"{K_CONTAMINATED} distinct word {NGRAM}-grams with the (deterministic "
    "1%) eval split. Eval grams broadcast; training side never shuffles "
    "its n-grams -- the GPT-3-style contamination check at corpus scale.",
)
def q_curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = doc_ngrams(canonical_docs(load_table(spark, sf_dir, "documents")))
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = (
        train.join(F.broadcast(eval_grams), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.any_value("n_grams").alias("n_grams"), F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        hits.select(
            "doc_id",
            "n_grams",
            "n_shared",
            (F.col("n_shared") >= K_CONTAMINATED).alias("contaminated"),
        ).orderBy("doc_id")
    )


@query(
    "curation_decontaminate_summary",
    oracle=f"""
    WITH {_GRAMS_SQL},
    eval_grams AS (SELECT DISTINCT gram FROM gr WHERE doc_id % {EVAL_MOD} = 0),
    train_docs AS (SELECT DISTINCT doc_id FROM gr WHERE doc_id % {EVAL_MOD} <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM (SELECT * FROM gr WHERE doc_id % {EVAL_MOD} <> 0) t
      JOIN eval_grams e USING (gram)
      GROUP BY t.doc_id
    ),
    flagged AS (SELECT doc_id FROM hits WHERE n_shared >= {K_CONTAMINATED})
    SELECT d.source,
           COUNT(*) AS docs_total,
           COUNT(f.doc_id) AS docs_contaminated,
           ROUND(COUNT(f.doc_id) / COUNT(*), 6) AS contamination_rate
    FROM cdoc d
    JOIN train_docs t ON d.doc_id = t.doc_id
    LEFT JOIN flagged f ON d.doc_id = f.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
    doc="Per-source contamination audit: rate of training documents "
    "flagged by the decontamination pass, for the curation dashboard. "
    "Same broadcast-semi shape; one extra tiny join to source labels.",
)
def q_curation_decontaminate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = canonical_docs(load_table(spark, sf_dir, "documents"))
    grams = doc_ngrams(docs)
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    flagged = (
        train.join(F.broadcast(eval_grams), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= K_CONTAMINATED)
        .select("doc_id")
    )
    train_docs = train.select("doc_id").distinct()
    return (
        docs.join(train_docs, "doc_id", "inner")
        .join(flagged.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.count("hit").alias("docs_contaminated"),
            F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("contamination_rate"),
        )
        .orderBy("source")
    )


@query(
    "curation_pipeline_v2",
    oracle=f"""
    WITH {_GRAMS_SQL},
    eval_grams AS (SELECT DISTINCT gram FROM gr WHERE doc_id % {EVAL_MOD} = 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM (SELECT * FROM gr WHERE doc_id % {EVAL_MOD} <> 0) t
      JOIN eval_grams e USING (gram)
      GROUP BY t.doc_id
    ),
    contaminated AS (SELECT doc_id FROM hits WHERE n_shared >= {K_CONTAMINATED}),
    -- exact dedup: keeper = min doc_id per normalized-text fingerprint
    keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM cdoc
      GROUP BY {fingerprint_sql("text")}
    ),
    survivors AS (
      SELECT d.doc_id, d.source, len(string_split(d.text, ' ')) AS n_tok
      FROM cdoc d
      JOIN keepers k ON d.doc_id = k.doc_id
      LEFT JOIN contaminated c ON d.doc_id = c.doc_id
      WHERE d.doc_id % {EVAL_MOD} <> 0 AND c.doc_id IS NULL
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM((n_tok - 1) // {8} + 1) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM survivors
    GROUP BY source
    ORDER BY source
    """,
    doc="Composed curation pipeline v2: drop the eval split, drop "
    "benchmark-contaminated documents (broadcast n-gram semi-join), "
    "drop exact duplicates (min-doc_id keeper per normalized-text "
    "fingerprint), then account the sliding-window chunking "
    "(W=16/stride=8) of the survivors -- chunk and token counts are "
    "pure arithmetic on the token count, no explode needed. One fused "
    "Catalyst plan; each stage is the registered standalone operator's "
    "exact semantics, proving the operator set composes into the "
    "production path.",
)
def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = canonical_docs(load_table(spark, sf_dir, "documents"))
    grams = doc_ngrams(docs)
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_grams), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= K_CONTAMINATED)
        .select("doc_id")
    )
    keepers = (
        docs.groupBy(fingerprint_expr(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = (
        docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(keepers, "doc_id", "semi")
        .join(contaminated, "doc_id", "anti")
        .select("source", F.size(F.split("text", " ")).alias("n_tok"))
    )
    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.floor((F.col("n_tok") - 1) / 8) + 1)
            .cast("bigint")
            .alias("n_chunks"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
        .orderBy("source")
    )
