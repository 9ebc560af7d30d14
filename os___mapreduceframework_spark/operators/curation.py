"""Composed training-data curation operators over the documents table.

The individual charter operators (operators.text, operators.dedup) each
do one thing; a real pretraining-data pipeline chains them: language
gate -> quality gate -> dedup -> mix/budget selection -> corpus stats.
These queries pin the COMPOSED shapes as single declarative plans --
the point being that the whole chain stays one Catalyst plan (one scan,
gates fused into it, one window for dedup, tiny final aggregates)
instead of N materialized intermediate datasets.

Scale notes (100 TB corpus):

- curation_pipeline: gates are scan-fused predicates (no shuffle); the
  exact-dedup window shuffles once on the content fingerprint (the
  min-per-key window is AQE-coalescible and skew-free since md5 keys
  are uniform); the per-source summary is a partial+final agg over the
  survivors only.
- text_tfidf_top: two shuffles by design (tf by (doc, term), df by
  term) plus a 1-row broadcast for N; the term-keyed join broadcasts
  nothing large. Zipf-skewed hot terms are exactly what AQE skew-split
  handles; the final top-k is TakeOrderedAndProject, never a global
  sort.
- curation_token_budget: the running-sum window is a SINGLE-partition
  window by construction (a global greedy budget is inherently
  sequential); it must only ever run on the heavily-reduced gated
  survivor set, which the plan guarantees by fusing the gates below it.
  At extreme scale the same selection is done per-stratum first
  (partitionBy source) and merged, trading exactness for parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from os___mapreduceframework_spark.operators.dedup import (
    _BOILERPLATE_CTES,
    BOILERPLATE_MAX_FRAC,
    boilerplate_stats,
)
from os___mapreduceframework_spark.operators.text import (
    _PERPLEXITY_CTES,
    PPL_MAX,
    STOPWORDS,
    fingerprint_expr,
    fingerprint_sql,
    lang_pred_expr,
    lang_pred_sql,
    perplexity_stats,
    quality_gate_expr,
    quality_gate_sql,
    stopword_hits,
    stopword_hits_sql,
)
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import load_table

# shared gate definitions (Spark side) ---------------------------------------


def _with_gates(docs: DataFrame) -> DataFrame:
    """Annotate documents with pred_lang / passes_quality / fingerprint
    -- built from text.py's SHARED gate expressions (lang_pred_expr,
    quality_gate_expr, fingerprint_expr), so the standalone operators
    and the composed pipeline cannot drift, fused into one projection."""
    docs = docs.withColumn("w", F.split("text", " "))
    n_stop = stopword_hits(F.col("w"), STOPWORDS["en"])
    return docs.select(
        "doc_id",
        "source",
        F.size("w").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        lang_pred_expr(F.col("w")).alias("pred_lang"),
        quality_gate_expr(F.col("w")).alias("passes_quality"),
        (n_stop / F.size("w")).alias("stop_ratio"),
        fingerprint_expr(F.col("text")).alias("fp"),
    )


_GATES_SQL = f"""
    gated AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             length(text) AS n_chars, {fingerprint_sql("text")} AS fp
      FROM documents
    ),
    annotated AS (
      SELECT doc_id, source, len(w) AS n_tokens, n_chars, fp,
             {stopword_hits_sql("w", STOPWORDS["en"])} / len(w) AS stop_ratio,
             {lang_pred_sql("w")} AS pred_lang,
             {quality_gate_sql("w")} AS passes_quality
      FROM gated
    )
"""


@query(
    "curation_pipeline",
    oracle=f"""
    WITH {_GATES_SQL},
    kept AS (
      SELECT *,
             MIN(doc_id) OVER (PARTITION BY fp) AS canonical
      FROM annotated
      WHERE pred_lang = 'en' AND passes_quality = 1
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    WHERE doc_id = canonical
    GROUP BY source
    ORDER BY source
    """,
    doc="The composed curation pipeline as ONE plan: language gate "
    "(stopword argmax = 'en') -> quality gate (C4-style heuristics) -> "
    "exact dedup (min doc_id per content fingerprint, window) -> "
    "per-source corpus summary. Gates fuse into the scan; the only "
    "data-sized shuffle is the dedup window on uniform md5 keys.",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    annotated = _with_gates(load_table(spark, sf_dir, "documents"))
    kept = annotated.filter(
        (F.col("pred_lang") == "en") & (F.col("passes_quality") == 1)
    ).withColumn("canonical", F.min("doc_id").over(Window.partitionBy("fp")))
    return (
        kept.filter(F.col("doc_id") == F.col("canonical"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


TOKEN_BUDGET = 5_000


@query(
    "curation_token_budget",
    oracle=f"""
    WITH {_GATES_SQL},
    ranked AS (
      SELECT doc_id, source, n_tokens, stop_ratio,
             CAST(SUM(n_tokens) OVER (ORDER BY stop_ratio DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM annotated
      WHERE pred_lang = 'en' AND passes_quality = 1
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ranked
    WHERE cum_tokens <= {TOKEN_BUDGET}
    ORDER BY cum_tokens
    """,
    doc="Token-budget selection (training-mix building): gated docs "
    "greedily taken in quality order (stopword-ratio desc, doc_id "
    "tiebreak) until the cumulative token count hits the budget -- a "
    "running-sum window + filter. The global window runs only on the "
    "gated survivors; the per-stratum variant parallelizes it at scale.",
)
def q_curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    annotated = _with_gates(load_table(spark, sf_dir, "documents"))
    ranked = annotated.filter(
        (F.col("pred_lang") == "en") & (F.col("passes_quality") == 1)
    ).withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            Window.orderBy(F.col("stop_ratio").desc(), "doc_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return (
        ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("cum_tokens")
    )


def tfidf_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tfidf): per-(doc, term) TF-IDF with raw-count tf
    and ln(n_docs/df) idf, rounded to 6 -- THE scoring shared by the
    corpus top-k and the per-doc keyword extractor (one edit updates
    both)."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )



@query(
    "text_tfidf_top",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ORDER BY tfidf DESC, tf.term, tf.doc_id
    LIMIT 25
    """,
    doc="TF-IDF, top-25 (doc, term) pairs: term frequency per doc, "
    "document frequency per term, idf from a 1-row broadcast count. "
    "Two designed shuffles (tf, df) + a term-keyed join; top-k is "
    "TakeOrderedAndProject with full tiebreaks.",
)
def q_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tfidf_scores(load_table(spark, sf_dir, "documents"))
        .orderBy(F.col("tfidf").desc(), "term", "doc_id")
        .limit(25)
    )


PER_SOURCE_BUDGET = 500


@query(
    "curation_token_budget_stratified",
    oracle=f"""
    WITH {_GATES_SQL},
    ranked AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                      ORDER BY stop_ratio DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM annotated
      WHERE pred_lang = 'en' AND passes_quality = 1
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ranked
    WHERE cum_tokens <= {PER_SOURCE_BUDGET}
    ORDER BY source, cum_tokens
    """,
    doc="Stratified token-budget selection: the scale path for "
    "curation_token_budget -- the greedy running sum runs PER SOURCE "
    "(partitionBy window, parallel across strata) with an equal "
    "per-source budget, which is also how balanced training mixes are "
    "actually built. One shuffle on source; no single-partition window.",
)
def q_curation_token_budget_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    annotated = _with_gates(load_table(spark, sf_dir, "documents"))
    ranked = annotated.filter(
        (F.col("pred_lang") == "en") & (F.col("passes_quality") == 1)
    ).withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            Window.partitionBy("source")
            .orderBy(F.col("stop_ratio").desc(), "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        ranked.filter(F.col("cum_tokens") <= PER_SOURCE_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


REP_TOP_MAX = 0.2  # max mass fraction of the top bigram
REP_DUP_MAX = 0.5  # max duplicate-token ratio


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, top_bigram_count, n_bigrams, n_tokens, n_uniq): the
    within-document repetition statistics (Gopher-style gate inputs),
    one map-side-combinable aggregation path over the bigram explode.
    Docs with < 2 tokens have no bigrams (absent from the result).

    PLAN-SHAPE NOTE (round-7 fix, 4-14x at the 10x fixture): columns
    selected ALONGSIDE an explode land in the Project ABOVE the
    Generate, so they are re-evaluated once per GENERATED row -- the
    original shape recomputed size(array_distinct(w)) (and, after
    CollapseProject inlines ``w``, the split itself) per BIGRAM, which
    is quadratic-ish work and allocation per doc and degraded further
    under GC pressure (23 -> 89 s back-to-back at sf1.0). The per-doc
    stats therefore ride INSIDE the generator expression: a 1-element
    array(struct(nt, nu)) binds them once per input row (the SQL
    scoped-LET idiom), the inner transform attaches them to every
    bigram struct, and the post-Generate project only extracts fields.
    Row set and values are identical; 6 s stable at sf1.0."""
    t = docs.select("doc_id", F.split("text", " ").alias("w"))
    gen = F.expr(
        """
        flatten(transform(
          array(struct(size(w) AS nt, size(array_distinct(w)) AS nu)),
          s -> transform(sequence(1, size(w) - 1),
            i -> struct(concat(w[i - 1], ' ', w[i]) AS bigram,
                        s.nt AS nt, s.nu AS nu))))
        """
    )
    bg = (
        t.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(gen).alias("e"))
        .select(
            "doc_id",
            F.col("e.nt").alias("n_tokens"),
            F.col("e.nu").alias("n_uniq"),
            F.col("e.bigram").alias("bigram"),
        )
    )
    return (
        bg.groupBy("doc_id", "bigram")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("n_tokens").alias("n_tokens"),
            F.max("n_uniq").alias("n_uniq"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bigram_count"),
            F.sum("c").alias("n_bigrams"),
            F.max("n_tokens").alias("n_tokens"),
            F.max("n_uniq").alias("n_uniq"),
        )
    )


# SQL twin of repetition_stats: reads a t(doc_id, w) CTE and ends in
# rstat(doc_id, top_bigram_count, n_bigrams, n_tokens, n_uniq). Token
# stats are grouped per doc_id on their own (the Spark side's max per
# doc), so a replayed doc's rows never multiply its bigram counts.
_REPETITION_CTES = """
    rbg AS (
      SELECT doc_id,
             w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS bigram
      FROM t, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ),
    rpb AS (SELECT doc_id, bigram, COUNT(*) AS c FROM rbg GROUP BY doc_id, bigram),
    rtok AS (
      SELECT doc_id, MAX(len(w)) AS n_tokens,
             MAX(len(list_distinct(w))) AS n_uniq
      FROM t GROUP BY doc_id
    ),
    rstat AS (
      SELECT doc_id,
             CAST(MAX(c) AS BIGINT) AS top_bigram_count,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             MAX(n_tokens) AS n_tokens, MAX(n_uniq) AS n_uniq
      FROM rpb JOIN rtok USING (doc_id) GROUP BY doc_id
    )
"""


@query(
    "text_repetition_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    {_REPETITION_CTES}
    SELECT doc_id,
           ROUND(top_bigram_count / n_bigrams, 6) AS top_bigram_frac,
           ROUND(1.0 - n_uniq / n_tokens, 6) AS dup_token_ratio,
           CASE WHEN top_bigram_count / n_bigrams <= {REP_TOP_MAX}
                 AND 1.0 - n_uniq / n_tokens <= {REP_DUP_MAX}
                THEN 1 ELSE 0 END AS passes_repetition
    FROM rstat
    ORDER BY doc_id
    """,
    doc="Within-document repetition gate (the Gopher-style repetition "
    "filters): top-bigram mass fraction + duplicate-token ratio, with "
    "a composite pass/fail. The per-doc token stats ride along the "
    "bigram explode, so the whole operator is ONE map-side-combinable "
    "aggregation path -- no join, and (the audited trap) no broadcast "
    "of a raw documents projection; no cross-document state.",
)
def q_text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = repetition_stats(load_table(spark, sf_dir, "documents"))
    top_frac = F.col("top_bigram_count") / F.col("n_bigrams")
    dup_ratio = F.lit(1.0) - F.col("n_uniq") / F.col("n_tokens")
    return (
        stats.select(
            "doc_id",
            F.round(top_frac, 6).alias("top_bigram_frac"),
            F.round(dup_ratio, 6).alias("dup_token_ratio"),
            F.when((top_frac <= REP_TOP_MAX) & (dup_ratio <= REP_DUP_MAX), 1)
            .otherwise(0)
            .alias("passes_repetition"),
        )
        .orderBy("doc_id")
    )


# PII scrub: the fixture corpus is synthetic word salad with no real
# PII, so the gate INJECTS a deterministic email for doc_id % 5 == 0
# before scrubbing -- the extraction/redaction machinery (the part that
# matters) runs against known ground truth the oracle reproduces.
_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"


@query(
    "curation_pii_scrub",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || doc_id::VARCHAR || '@example.com now'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           length(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g')) AS len_redacted
    FROM seeded
    ORDER BY doc_id
    """,
    doc="PII scrubbing gate: count and redact email addresses via "
    "regexp_extract_all / regexp_replace -- scan-local expressions, no "
    "shuffle, no Python (the regex runs inside whole-stage codegen). "
    "Synthetic fixtures carry no PII, so a deterministic email is "
    "injected for doc_id %% 5 == 0 first; the oracle reproduces the "
    "injection and verifies extraction count and redacted length "
    "exactly. At 100 TB this is a mapper-only pass fused into whatever "
    "scan is already running.",
)
def q_curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return seeded.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)")).alias(
            "n_emails"
        ),
        F.length(F.regexp_replace("text", _EMAIL_RE, "<EMAIL>")).alias(
            "len_redacted"
        ),
    ).orderBy("doc_id")


MIX_TEMPERATURE = 0.7  # source weight ~ n^alpha (temperature sampling)


@query(
    "curation_mix_weights",
    oracle=f"""
    WITH c AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(POW(n_tokens, {MIX_TEMPERATURE})) AS z FROM c)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(ROUND(POW(n_tokens, {MIX_TEMPERATURE}) / z, 6) AS DOUBLE) AS weight
    FROM c, t
    ORDER BY source
    """,
    doc="Data-mixture design: temperature-weighted source sampling "
    f"weights w_s ~ tokens_s^{MIX_TEMPERATURE} (the standard "
    "upweight-the-tail mix used when composing pretraining corpora "
    "from skewed sources). One aggregate per source + a 1-row "
    "normalizer broadcast back -- #sources rows of state regardless of "
    "corpus size.",
)
def q_curation_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    z = c.agg(F.sum(F.pow("n_tokens", MIX_TEMPERATURE)).alias("z"))
    return (
        c.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.pow("n_tokens", MIX_TEMPERATURE) / F.col("z"), 6)
            .cast("double")
            .alias("weight"),
        )
        .orderBy("source")
    )


@query(
    "text_keywords_per_doc",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, rank, term, tfidf
    FROM (SELECT doc_id, term, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rank
          FROM scored)
    WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    doc="Per-document keyword extraction: top-3 terms by TF-IDF within "
    "each document (rank over the ROUNDED score + term tiebreak, so "
    "both engines order ties identically). Same two designed shuffles "
    "as the corpus TF-IDF (tf, df) plus a doc-partitioned window -- "
    "the window reuses the tf shuffle's partitioning on doc_id. The "
    "tagging pre-pass for retrieval filtering and topic routing.",
)
def q_text_keywords_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    scored = tfidf_scores(load_table(spark, sf_dir, "documents"))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tfidf")
        .orderBy("doc_id", "rank")
    )


@query(
    "curation_pipeline_v3",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
               FROM documents),
    {_BOILERPLATE_CTES},
    {_REPETITION_CTES},
    {_PERPLEXITY_CTES},
    flags AS (
      SELECT t.source, len(t.w) AS n_tok,
             COALESCE(b.n_dup_blocks / CAST(b.n_blocks AS DOUBLE) <= {BOILERPLATE_MAX_FRAC}, TRUE) AS f_boiler,
             COALESCE(r.top_bigram_count / CAST(r.n_bigrams AS DOUBLE) <= {REP_TOP_MAX}
                      AND 1.0 - r.n_uniq / CAST(r.n_tokens AS DOUBLE) <= {REP_DUP_MAX},
                      TRUE) AS f_rep,
             COALESCE(p.ppl <= {PPL_MAX}, TRUE) AS f_ppl
      FROM t
      LEFT JOIN bstat b USING (doc_id)
      LEFT JOIN rstat r USING (doc_id)
      LEFT JOIN pstat p USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (f_boiler) AS BIGINT) AS n_pass_boilerplate,
           CAST(COUNT(*) FILTER (f_rep) AS BIGINT) AS n_pass_repetition,
           CAST(COUNT(*) FILTER (f_ppl) AS BIGINT) AS n_pass_ppl,
           CAST(COUNT(*) FILTER (f_boiler AND f_rep AND f_ppl) AS BIGINT)
             AS n_pass_all,
           CAST(COALESCE(SUM(n_tok) FILTER (f_boiler AND f_rep AND f_ppl), 0)
             AS BIGINT) AS kept_tokens
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
    doc="Composed curation pipeline v3 -- the QUALITY funnel (sibling "
    "of v2's dedup/decontamination funnel): cross-corpus boilerplate "
    "blocks, within-doc repetition, and corpus-trained bigram-LM "
    "perplexity, each gate the registered standalone operator's exact "
    "semantics (shared helper, not re-implementation), left-joined "
    "per doc (too-short docs pass a gate they can't trigger) and "
    "rolled up per source with pass counts and surviving token mass. "
    "One fused Catalyst plan; the per-source funnel is what a "
    "curation run reports before committing a training mix.",
)
def q_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    b = boilerplate_stats(docs)
    r = repetition_stats(docs).select(
        "doc_id", "top_bigram_count",
        F.col("n_bigrams").alias("r_nbg"), "n_tokens", "n_uniq",
    )
    p = perplexity_stats(docs).select("doc_id", "ppl_raw")
    f_boiler = F.coalesce(
        F.col("n_dup_blocks") / F.col("n_blocks").cast("double")
        <= BOILERPLATE_MAX_FRAC,
        F.lit(True),
    )
    f_rep = F.coalesce(
        (F.col("top_bigram_count") / F.col("r_nbg").cast("double") <= REP_TOP_MAX)
        & (1.0 - F.col("n_uniq") / F.col("n_tokens").cast("double") <= REP_DUP_MAX),
        F.lit(True),
    )
    f_ppl = F.coalesce(F.col("ppl_raw") <= PPL_MAX, F.lit(True))
    flags = (
        base.join(b, "doc_id", "left")
        .join(r, "doc_id", "left")
        .join(p, "doc_id", "left")
        .select(
            "source",
            "n_tok",
            f_boiler.alias("f_boiler"),
            f_rep.alias("f_rep"),
            f_ppl.alias("f_ppl"),
        )
    )
    f_all = F.col("f_boiler") & F.col("f_rep") & F.col("f_ppl")
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("f_boiler"), 1)).alias("n_pass_boilerplate"),
            F.count(F.when(F.col("f_rep"), 1)).alias("n_pass_repetition"),
            F.count(F.when(F.col("f_ppl"), 1)).alias("n_pass_ppl"),
            F.count(F.when(f_all, 1)).alias("n_pass_all"),
            F.coalesce(F.sum(F.when(f_all, F.col("n_tok"))), F.lit(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )
