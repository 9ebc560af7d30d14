"""Text-analysis operators over the documents table (charter extension).

Language-ID (stopword-hit heuristic), quality scoring, token statistics,
n-gram frequency, and document fingerprinting. All expressions are
JVM-side higher-order array functions (transform/filter/aggregate over
the token array) -- one parquet scan, no Python in the hot path, no
shuffle except the final aggregations. At 100 TB each of these is a
single map-only pass (plus a tiny agg exchange where noted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import load_table

STOPWORDS = {
    "en": ("the", "a", "of", "and", "in", "to", "is"),
    "de": ("der", "die", "das", "und", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "un", "une"),
    "es": ("el", "los", "y", "en", "un", "una"),
}

_PUNCT = ".,!?;:"

# quality-gate thresholds shared by text_quality and the composed
# curation pipelines (a one-sided edit here updates both)
QUALITY_TOKENS = (5, 100000)
QUALITY_STOP_RATIO = (0.01, 0.6)

# Each gate helper below has a SQL twin (``*_sql``, over SQL expression
# strings) that every DuckDB oracle applying the gate calls.


def stopword_hits(w_col, words):
    """Count of tokens in ``w_col`` (array<string>) that are in
    ``words`` -- the stopword-hit primitive under lang-id and quality."""
    arr = F.array(*[F.lit(s) for s in words])
    return F.size(F.filter(w_col, lambda x: F.array_contains(arr, x)))


def stopword_hits_sql(w: str, words) -> str:
    """SQL twin of ``stopword_hits`` over the list expression ``w``."""
    in_list = ", ".join(f"'{s}'" for s in words)
    return f"len(list_filter({w}, x -> x IN ({in_list})))"


def lang_pred_expr(w_col):
    """Stopword-argmax language prediction with the fixed en>de>fr>es
    tiebreak (the exact expression of text_lang_id)."""
    counts = {lang: stopword_hits(w_col, words) for lang, words in STOPWORDS.items()}
    return (
        F.when(
            counts["en"] >= F.greatest(counts["de"], counts["fr"], counts["es"]), "en"
        )
        .when(counts["de"] >= F.greatest(counts["fr"], counts["es"]), "de")
        .when(counts["fr"] >= counts["es"], "fr")
        .otherwise("es")
    )


def lang_pred_sql(w: str) -> str:
    """SQL twin of ``lang_pred_expr``."""
    c = {lang: stopword_hits_sql(w, words) for lang, words in STOPWORDS.items()}
    return (
        f"CASE WHEN {c['en']} >= GREATEST({c['de']}, {c['fr']}, {c['es']}) THEN 'en'"
        f" WHEN {c['de']} >= GREATEST({c['fr']}, {c['es']}) THEN 'de'"
        f" WHEN {c['fr']} >= {c['es']} THEN 'fr' ELSE 'es' END"
    )


def quality_gate_expr(w_col):
    """1/0 quality verdict (the exact gate of text_quality): token count
    and en-stopword ratio inside the configured bands."""
    n_stop = stopword_hits(w_col, STOPWORDS["en"])
    return F.when(
        F.size(w_col).between(*QUALITY_TOKENS)
        & (n_stop / F.size(w_col)).between(*QUALITY_STOP_RATIO),
        1,
    ).otherwise(0)


def quality_gate_sql(w: str) -> str:
    """SQL twin of ``quality_gate_expr``."""
    n_stop = stopword_hits_sql(w, STOPWORDS["en"])
    return (
        f"CASE WHEN len({w}) BETWEEN {QUALITY_TOKENS[0]} AND {QUALITY_TOKENS[1]}"
        f" AND {n_stop} / len({w})"
        f" BETWEEN {QUALITY_STOP_RATIO[0]} AND {QUALITY_STOP_RATIO[1]}"
        " THEN 1 ELSE 0 END"
    )


def fingerprint_expr(text_col):
    """Normalized-text md5 fingerprint (the exact expression of
    text_fingerprint and the exact-dedup keeper key)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))))


def fingerprint_sql(text: str) -> str:
    """SQL twin of ``fingerprint_expr``."""
    return f"md5(lower(trim(regexp_replace({text}, '\\s+', ' ', 'g'))))"


@query(
    "text_token_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           len(w) AS n_tokens,
           len(list_distinct(w)) AS n_uniq,
           CAST(list_aggregate(list_transform(w, t -> length(t)), 'sum') AS BIGINT) AS total_chars,
           ROUND(CAST(list_aggregate(list_transform(w, t -> length(t)), 'sum') AS BIGINT)
                 / len(w), 6) AS avg_token_len
    FROM t
    ORDER BY doc_id
    """,
    doc="Token counting per document: whitespace tokens, distinct count, "
    "character totals, average token length -- all via higher-order "
    "array functions on one scan.",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.size("w").alias("n_tokens"),
            F.size(F.array_distinct("w")).alias("n_uniq"),
            F.expr("aggregate(transform(w, t -> length(t)), 0L, (a, x) -> a + x)").alias(
                "total_chars"
            ),
            F.round(
                F.expr("aggregate(transform(w, t -> length(t)), 0L, (a, x) -> a + x)")
                / F.size("w"),
                6,
            ).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    p AS (
      SELECT doc_id, text, w,
             length(text) - length(replace(replace(replace(replace(replace(replace(
                 text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS n_punct,
             {stopword_hits_sql("w", STOPWORDS["en"])} AS n_stop
      FROM t
    )
    SELECT doc_id,
           length(text) AS n_chars,
           n_punct,
           ROUND(n_punct / GREATEST(length(text), 1), 6) AS punct_ratio,
           n_stop,
           ROUND(n_stop / len(w), 6) AS stopword_ratio,
           {quality_gate_sql("w")} AS passes_quality
    FROM p
    ORDER BY doc_id
    """,
    doc="Quality scoring: length, punctuation ratio, stopword ratio, and "
    "a composite pass/fail gate (the C4/Gopher-style heuristic filter "
    "shape for pretraining pipelines).",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    strip_punct = F.col("text")
    for ch in _PUNCT:
        strip_punct = F.replace(strip_punct, F.lit(ch), F.lit(""))
    n_punct = (F.length("text") - F.length(strip_punct)).alias("n_punct")
    n_stop = stopword_hits(F.col("w"), STOPWORDS["en"])
    df = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            n_punct,
            F.round(
                (F.length("text") - F.length(strip_punct))
                / F.greatest(F.length("text"), F.lit(1)),
                6,
            ).alias("punct_ratio"),
            n_stop.alias("n_stop"),
            F.round(n_stop / F.size("w"), 6).alias("stopword_ratio"),
            quality_gate_expr(F.col("w")).alias("passes_quality"),
        )
        .orderBy("doc_id")
    )
    return df


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id, lang, {lang_pred_sql("w")} AS pred_lang
    FROM t
    ORDER BY doc_id
    """,
    doc="Language ID heuristic: stopword-hit argmax across language "
    "lexicons with a fixed priority tiebreak (en > de > fr > es). The "
    "n-gram-profile generalization swaps the lexicons for char-trigram "
    "tables; the plan shape is identical.",
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    return docs.select(
        "doc_id", "lang", lang_pred_expr(F.col("w")).alias("pred_lang")
    ).orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           {fingerprint_sql("text")} AS content_md5,
           CAST(list_aggregate(
             list_transform(w, t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
             'sum') AS BIGINT) AS token_hash_sum
    FROM t
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: md5 of whitespace-normalized text plus "
    "an order-independent rolling token-hash sum (cheap shift-tolerant "
    "signature; md5-derived so oracles agree bit-for-bit).",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            fingerprint_expr(F.col("text")).alias("content_md5"),
            F.expr(
                "aggregate(transform(split(text, ' '), "
                "t -> cast(conv(substr(md5(t), 1, 7), 16, 10) as bigint)), 0L, (a, x) -> a + x)"
            ).alias("token_hash_sum"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bigram_freq",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS bigram
      FROM t, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
    doc="Corpus bigram frequency, top-25: shingle-explode + count + "
    "TakeOrdered (deterministic tiebreak on the bigram).",
)
def q_text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i - 1], ' ', w[i]))")
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


# BPE-ish pre-tokenization regex (GPT-2 style, simplified to the subset
# whose semantics agree between Java regex (Spark) and RE2 (DuckDB)):
# a token is an optional leading space + letter run, digit run, or
# punctuation run.
_BPE_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


@query(
    "text_bpe_tokens",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, regexp_extract_all(text, '{_BPE_RE}') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_bpe_tokens,
           len(list_distinct(toks)) AS n_uniq_bpe,
           ROUND(length(text) / GREATEST(len(toks), 1), 6) AS chars_per_token
    FROM t
    ORDER BY doc_id
    """,
    doc="BPE-style pre-tokenization (GPT-2-shape regex: optional space + "
    "letter/digit/punct run) and the chars-per-token compression ratio "
    "-- the charter's 'BPE-ish regex' token counter. regexp_extract_all "
    "runs JVM-side in one scan pass; the pattern subset is chosen so "
    "Java regex and RE2 tokenize identically.",
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("text"),
            F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)").alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").alias("n_bpe_tokens"),
            F.size(F.array_distinct("toks")).alias("n_uniq_bpe"),
            F.round(
                F.length("text") / F.greatest(F.size("toks"), F.lit(1)), 6
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
    ),
    freq AS (
      SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, SUM(n) AS total FROM freq GROUP BY doc_id),
    ent AS (
      SELECT f.doc_id,
             ROUND(-SUM((n / CAST(total AS DOUBLE))
                        * log2(n / CAST(total AS DOUBLE))), 6) + 0.0 AS entropy
      FROM freq f JOIN tot USING (doc_id)
      GROUP BY f.doc_id
    )
    SELECT doc_id, entropy, (entropy < 3.5) AS low_entropy
    FROM ent
    ORDER BY doc_id
    """,
    doc="Character-level Shannon entropy per document -- the "
    "information-theoretic junk filter (low entropy = repetitive "
    "boilerplate, high = random noise; natural text sits ~4 bits). "
    "The char histogram is a C-level ``collections.Counter`` per text "
    "in one Arrow-batched scan (the sanctioned vectorized-UDF case, "
    "same argument as embedding_band_buckets): the r6 explode form "
    "pushed one row per CHARACTER through a hash aggregate (34.7 s at "
    "sf1.0, the only measured time-per-data > 1.0 query at 10x), and "
    "the pure-Column rewrite (array_sort + interpreted aggregate fold) "
    "still paid ~28 s materializing per-char UTF8Strings; the Counter "
    "scan is ~3 s on the same fixture. The scan emits per-(doc, "
    "distinct char) PARTIALS -- ~2% of corpus bytes -- merged by a "
    "(doc_id, ch) hash agg + per-doc window, because the oracle's "
    "GROUP BY doc_id folds duplicate doc rows into one histogram "
    "(caught by the duplicate-row sweep: a per-row entropy emitted "
    "2x rows on a replayed corpus). Complements the token-ratio "
    "gates in text_quality with a tokenizer-free signal.",
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # empty/NULL text must be absent from the output (no chars),
    # matching the oracle's range(1, 1) producing zero char rows.
    # The scan emits per-(row, distinct char) PARTIAL counts, not the
    # finished per-row entropy: the oracle's GROUP BY doc_id merges
    # duplicate doc rows (a replayed corpus has ONE histogram per
    # doc_id, counts doubled; a conflicting duplicate contributes both
    # texts' chars to one histogram), so the entropy must be computed
    # AFTER a doc_id merge -- per-row entropy diverged 1000 vs 500 rows
    # in the duplicate-row sweep. Partial rows are ~distinct-chars per
    # doc (vs one row per CHARACTER in the r6 explode form), so the
    # merge shuffles ~2% of the corpus bytes.
    def histogram(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            ids, chs, ns = [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if not isinstance(text, str) or not text:
                    continue
                for ch, cnt in Counter(text).items():
                    ids.append(doc_id)
                    chs.append(ch)
                    ns.append(cnt)
            yield pd.DataFrame({"doc_id": ids, "ch": chs, "n": ns})

    freq = (
        docs.select("doc_id", "text")
        .mapInPandas(histogram, schema="doc_id long, ch string, n long")
        .groupBy("doc_id", "ch")
        .agg(F.sum("n").alias("n"))
    )
    # per-doc total via a window over freq rows (bounded by the doc's
    # char alphabet, ~100 rows per partition key at any corpus size):
    # one lineage pass, no self-join recomputing the Python scan
    total = F.sum("n").over(Window.partitionBy("doc_id"))
    p = F.col("n") / F.col("total").cast("double")
    ent = (
        freq.withColumn("total", total)
        .groupBy("doc_id")
        # + 0.0 normalizes the -0.0 a single-distinct-char doc produces
        # (p=1 -> -(1*log2(1)) = -0.0) identically to the oracle;
        # entropy terms are sums of irrational logs, so the 6-decimal
        # round never lands on a half-ulp boundary where engine float
        # summation orders differ
        .agg((F.round(-F.sum(p * F.log2(p)), 6) + F.lit(0.0)).alias("entropy"))
    )
    return ent.select(
        "doc_id", "entropy", (F.col("entropy") < 3.5).alias("low_entropy")
    ).orderBy("doc_id")


PPL_MAX = 80.0  # perplexity gate (CCNet-style: drop high-ppl junk)


def perplexity_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, ppl_raw): add-1-smoothed bigram-LM perplexity
    of each doc, LM trained on the corpus itself in the same plan.
    Train and score share one bigram explode; count tables are hash
    aggregates joined back hash-to-hash. Docs with < 2 tokens have no
    bigrams (absent; join side decides the default)."""
    bg = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i - 1] AS w1, w[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).cast("double").alias("vsz"))
    lp = F.log((F.col("c") + 1) / (F.col("c1") + F.col("vsz")))
    # the two vocab-scale count tables pre-join into ONE (w1, w2, lp)
    # table BEFORE touching the fact-scale stream (round-9: the r8
    # form joined bg -> c2 on (w1,w2) and then the joined stream ->
    # c1 on w1, i.e. the corpus's bigram rows crossed two exchanges;
    # folding c1 into the lp table makes the model join vocab x vocab
    # work and the fact stream cross exactly one score exchange).
    # Per-bigram lp is the identical expression over identical inputs,
    # so every scored row carries the same value as before.
    lp_table = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", lp.alias("lp"))
    )
    return (
        # bg is the fact-scale bigram stream: merge-hint it so the
        # score join shuffles hash-to-hash (the aggregated lp table
        # may broadcast when small; the raw stream never)
        bg.hint("merge").join(lp_table, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.exp(-F.avg("lp")).alias("ppl_raw"),
        )
    )


# SQL twin of perplexity_stats: reads a t(doc_id, w) CTE and ends in
# pstat(doc_id, n_bigrams, ppl) with ppl unrounded
_PERPLEXITY_CTES = """
    bg AS (
      SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i + 1 AS INT)] AS w2
      FROM t, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c) AS c1 FROM c2 GROUP BY w1),
    v AS (SELECT COUNT(*)::DOUBLE AS vsz FROM c1),
    pstat AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             EXP(-AVG(LN((c2.c + 1) / (c1.c1 + v.vsz)))) AS ppl
      FROM bg
      JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
      JOIN c1 ON c1.w1 = bg.w1
      CROSS JOIN v
      GROUP BY bg.doc_id
    )
"""


@query(
    "text_perplexity_bigram",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    {_PERPLEXITY_CTES}
    SELECT p.doc_id, p.n_bigrams,
           CAST(ROUND(p.ppl, 4) AS DOUBLE) AS ppl,
           p.ppl <= {PPL_MAX} AS passes_ppl
    FROM pstat p
    ORDER BY p.doc_id
    """,
    doc="Perplexity quality filter (the CCNet/KenLM gate, with the LM "
    "trained on the corpus itself): add-1-smoothed bigram language "
    "model -- P(w2|w1) = (C(w1,w2)+1)/(C(w1)+|V|), |V| = distinct "
    "conditioning tokens -- scored as per-doc perplexity "
    "exp(-mean ln P). Train and score share ONE bigram explode: "
    "counts are hash aggregates of it, scoring joins the (fact-scale) "
    "bigram stream to the aggregated count tables hash-to-hash "
    "(aggregated sides -- legitimate to broadcast when small, safe to "
    "shuffle when the vocab is large), and the per-doc reduce is one "
    "more hash aggregate. No Python anywhere; the whole LM is "
    "relational state.",
)
def q_text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = perplexity_stats(load_table(spark, sf_dir, "documents"))
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("ppl_raw", 4).cast("double").alias("ppl"),
        (F.col("ppl_raw") <= PPL_MAX).alias("passes_ppl"),
    ).orderBy("doc_id")


BPE_TRAIN_MERGES = 3


def _bpe_merge_expr(syms, a, b):
    """Greedy left-to-right non-overlapping merge of adjacent pair
    (a, b) in a symbol array -- the BPE apply step -- as ONE JVM-side
    ``aggregate`` fold (scan-local, zero shuffle): the accumulator
    carries (emitted symbols, pending symbol); a (pend==a, x==b) hit
    emits the merged token and clears pending, anything else flushes
    pending. Greedy-left equals the oracle's every-other-match-in-a-run
    window rule: overlapping matches only occur for a==b runs, where
    both select the 1st, 3rd, ... occurrence."""
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        hit = acc["pend"].isNotNull() & (acc["pend"] == a) & (x == b)
        flushed = F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(F.concat(a, b))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(F.struct(flushed.alias("out"), x.alias("pend")))

    def fin(acc):
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(syms, acc0, step, fin)


def _bpe_ctes(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """The identical training recurrence unrolled as DuckDB CTEs
    (pagerank-style exact-oracle body for an iterative algorithm); the
    per-step argmax is ``m{j}`` and the final symbol table is
    ``s{n_merges}``. The merge step is formulated positionally: matches
    that overlap form runs of consecutive positions (possible only when
    a==b), and every other match in a run is applied -- provably the
    same selection as the Spark side's greedy fold. Shared by the
    merge-table query and the encode query."""
    cte = [
        """
    wv AS (SELECT word, COUNT(*)::BIGINT AS w
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
           WHERE word <> '' GROUP BY word),
    s0 AS (SELECT word, w, i AS pos, substr(word, CAST(i + 1 AS INT), 1) AS sym
           FROM wv, unnest(range(0, length(word))) u(i))"""
    ]
    for j in range(1, n_merges + 1):
        i = j - 1
        cte.append(f"""
    p{j} AS (SELECT word, w, pos, sym,
                    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
             FROM s{i}),
    c{j} AS (SELECT sym, nxt, CAST(SUM(w) AS BIGINT) AS cnt
             FROM p{j} WHERE nxt IS NOT NULL GROUP BY sym, nxt),
    m{j} AS (SELECT sym AS a, nxt AS b, cnt FROM c{j}
             ORDER BY cnt DESC, sym, nxt LIMIT 1),
    k{j} AS (SELECT p.word, p.w, p.pos, p.sym, p.nxt,
                    COALESCE(p.sym = m.a AND p.nxt = m.b, FALSE) AS hit
             FROM p{j} p, m{j} m),
    h{j} AS (SELECT word, pos,
                    pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS run
             FROM k{j} WHERE hit),
    sel{j} AS (SELECT word, pos FROM (
                 SELECT word, pos,
                        ROW_NUMBER() OVER (PARTITION BY word, run ORDER BY pos) AS rk
                 FROM h{j}) z
               WHERE rk % 2 = 1),
    s{j} AS (SELECT k.word, k.w,
                    ROW_NUMBER() OVER (PARTITION BY k.word ORDER BY k.pos) - 1 AS pos,
                    CASE WHEN sm.pos IS NOT NULL THEN k.sym || k.nxt ELSE k.sym END AS sym
             FROM k{j} k
             LEFT JOIN sel{j} sm ON sm.word = k.word AND sm.pos = k.pos
             LEFT JOIN sel{j} sd ON sd.word = k.word AND sd.pos = k.pos - 1
             WHERE sd.pos IS NULL)""")
    return ",".join(cte)


def _bpe_oracle(n_merges: int = BPE_TRAIN_MERGES) -> str:
    finals = "\n    UNION ALL ".join(
        f"SELECT {j} AS step, a AS left_sym, b AS right_sym, cnt AS pair_count FROM m{j}"
        for j in range(1, n_merges + 1)
    )
    return "WITH " + _bpe_ctes(n_merges) + f"\n    {finals}\n    ORDER BY step"


@query(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),
    doc="FULL iterative BPE training loop (k=3 merges) over the corpus "
    "word vocabulary -- the train half of the tokenizer pipeline "
    "(text_bpe_tokens is the apply half). Each round: adjacent-pair "
    "counts weighted by word frequency (one explode + hash aggregate "
    "over the VOCABULARY, not the corpus -- Heaps'-law-sized), argmax "
    "pair via a max-count broadcast + min-(a,b) tiebreak (1-row "
    "frames, no collect), then the merge applied as a scan-local "
    "aggregate-fold over each word's symbol array (zero shuffle; see "
    "_bpe_merge_expr) with the symbol table localCheckpointed per "
    "round (pagerank-pattern lineage truncation). Output: the learned "
    "merge table (step, pair, weighted count). Oracle: the same "
    "recurrence unrolled as chained CTEs -- an exact value check for "
    "an iterative, data-dependent training algorithm.",
)
def q_text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    step_rows, _ = _bpe_train(spark, sf_dir)
    out = step_rows[0]
    for extra in step_rows[1:]:
        out = out.unionByName(extra)
    return out.orderBy("step")


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the k-merge training loop; returns (per-step merge-row
    frames, final vocabulary symbol table (word, w, syms)) -- shared by
    the merge-table query and the encode query."""
    docs = load_table(spark, sf_dir, "documents")
    wv = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    s = wv.select(
        "word",
        "w",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=False)
    step_rows = []
    for j in range(1, BPE_TRAIN_MERGES + 1):
        pairs = (
            s.filter(F.size("syms") >= 2)
            .select(
                "w",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] as sym, syms[i + 1] as nxt))"
                    )
                ).alias("pr"),
            )
            .select("w", "pr.sym", "pr.nxt")
        )
        c = pairs.groupBy("sym", "nxt").agg(F.sum("w").alias("cnt"))
        mx = c.agg(F.max("cnt").alias("mc"))
        best = (
            c.join(F.broadcast(mx), F.col("cnt") == F.col("mc"))
            .agg(
                F.min(F.struct("sym", "nxt")).alias("ab"),
                F.first("mc").alias("cnt"),
            )
            .select(
                F.col("ab.sym").alias("a"), F.col("ab.nxt").alias("b"), "cnt"
            )
            .localCheckpoint(eager=False)  # 1 row, read by output AND merge
        )
        # best is EXACTLY one row: on a merge-less round (empty corpus,
        # or vocabulary already fully merged) the global agg emits one
        # all-NULL row, kept so the merge below stays a 1-row CROSS
        # join (whole-stage-codegen'd BNLJ; a left-outer BNLJ drops the
        # merge fold out of codegen, measured 2-6x slower) -- the
        # no-merge row is filtered only from the OUTPUT
        step_rows.append(
            best.filter(F.col("a").isNotNull()).select(
                F.lit(j).alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        s = (
            # cross join with the guaranteed-1-row best: a merge-less
            # round carries the all-NULL row and the when() below
            # leaves the vocabulary unchanged instead of annihilating it
            s.crossJoin(F.broadcast(best))
            .select(
                "word",
                "w",
                F.when(F.col("a").isNull(), F.col("syms"))
                .otherwise(
                    _bpe_merge_expr(F.col("syms"), F.col("a"), F.col("b"))
                )
                .alias("syms"),
            )
            .localCheckpoint(eager=False)
        )
    return step_rows, s


@query(
    "text_bpe_encode",
    oracle="WITH "
    + _bpe_ctes()
    + f""",
    wl AS (SELECT word, COUNT(*) AS n_sym FROM s{BPE_TRAIN_MERGES} GROUP BY word),
    dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    dwf AS (SELECT doc_id, word FROM dw WHERE word <> '')
    SELECT d.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens
    FROM dwf d JOIN wl ON wl.word = d.word
    GROUP BY d.doc_id
    ORDER BY doc_id
    """,
    doc="The ENCODE half of the BPE loop (text_bpe_train_merges is the "
    "train half): the learned merge table is applied and each document "
    "is measured in learned-BPE tokens. Tokenization happens on the "
    "VOCABULARY (each distinct word encoded once -- the final symbol "
    "table from training is reused directly), then the corpus is a "
    "words-explode joined to the per-word token length hash-to-hash; "
    "the corpus never re-tokenizes per occurrence. Output: per-doc "
    "word and learned-token counts -- the compression-ratio signal a "
    "tokenizer-training pipeline reports. Oracle: the training CTEs "
    "plus the same vocabulary join.",
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, vocab = _bpe_train(spark, sf_dir)
    wl = vocab.select("word", F.size("syms").alias("n_sym"))
    docs = load_table(spark, sf_dir, "documents")
    dw = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    # dw is the fact-scale words stream: merge-hint so small-SF
    # statistics never broadcast the corpus side (wl, the per-word
    # token lengths, is vocab-sized and joins hash-to-hash)
    return (
        dw.hint("merge").join(wl, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


_CURRICULUM_PCTS = "0.25, 0.5, 0.75"  # quartile stages: easy -> hard


@query(
    "training_curriculum_buckets",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    {_PERPLEXITY_CTES},
    pr AS (SELECT doc_id, n_bigrams, ROUND(ppl, 6) AS ppl_r FROM pstat),
    b AS (SELECT quantile_cont(ppl_r, [{_CURRICULUM_PCTS}]) AS bs FROM pr)
    SELECT CAST(len(list_filter(b.bs, x -> x <= p.ppl_r)) AS INT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_bigrams) AS BIGINT) AS n_bigrams_total,
           CAST(ROUND(AVG(p.ppl_r), 4) AS DOUBLE) AS avg_ppl
    FROM pr p CROSS JOIN b
    GROUP BY 1
    ORDER BY stage
    """,
    doc="Curriculum-learning stage assignment: documents are staged "
    "easy -> hard by bigram-LM perplexity quartiles (stage 0 = "
    "easiest quarter). The LM train+score reuses perplexity_stats "
    "(one shared implementation with the quality gate); the quartile "
    "boundaries are ONE exact interpolated-percentile aggregate whose "
    "3-element array broadcasts back into a scan-local higher-order "
    "bucket expression (the feature_quantile_bucketize shape -- no "
    "global sort, no ntile single-partition window, which is the "
    "trap: a global NTILE serializes the corpus at 100 TB). "
    "Perplexities are rounded to 6 places BEFORE the boundary "
    "aggregate on both engines so the staging is deterministic. Docs "
    "with <2 tokens have no perplexity and are excluded (the gate "
    "family treats them the same way).",
)
def q_training_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = perplexity_stats(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_bigrams", F.round("ppl_raw", 6).alias("ppl_r")
    )
    bounds = scored.agg(
        F.expr(f"percentile(ppl_r, array({_CURRICULUM_PCTS}))").alias("bs")
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            F.expr("size(filter(bs, x -> x <= ppl_r))").cast("int").alias("stage"),
            "n_bigrams",
            "ppl_r",
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams_total"),
            F.round(F.avg("ppl_r"), 4).cast("double").alias("avg_ppl"),
        )
        .orderBy("stage")
    )


_ZIPF_TOP = 500  # head tokens fitted (rank explosion stays bounded)


@query(
    "vocab_zipf_fit",
    oracle=f"""
    WITH tf AS (
      SELECT word, COUNT(*)::BIGINT AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      WHERE word <> '' GROUP BY word
    ),
    top AS (
      SELECT word, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank
      FROM tf ORDER BY freq DESC, word LIMIT {_ZIPF_TOP}
    ),
    pts AS (SELECT LN(rank) AS x, LN(freq) AS y FROM top),
    s AS (
      SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_tokens_fit,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                AS DOUBLE) AS zipf_slope,
           CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                      / n, 4) AS DOUBLE) AS intercept,
           CAST(ROUND(POW(n * sxy - sx * sy, 2)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
                AS DOUBLE) AS r2
    FROM s
    """,
    doc="Zipf-law fit over the vocabulary head (the tokenizer/corpus "
    "health check: natural language fits ln freq ~ -1 * ln rank; a "
    "slope far from -1 or a poor r2 signals synthetic, boilerplate, or "
    "truncated text). Token counts are one hash aggregate; the head is "
    "a TakeOrdered top-500 (no global sort -- the rank window runs "
    "over 500 rows only, never the vocabulary); the least-squares "
    "slope/intercept/r2 come from ONE fixed-size moment aggregate over "
    "the (ln rank, ln freq) points. Frequency ties rank by token on "
    "both engines, so the fit is deterministic.",
)
def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = (
        tf.orderBy(F.col("freq").desc(), "word")
        .limit(_ZIPF_TOP)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.col("freq").desc(), "word")),
        )
    )
    pts = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_tokens_fit"),
        F.round(slope, 4).cast("double").alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4)
        .cast("double")
        .alias("intercept"),
        F.round(
            F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            4,
        )
        .cast("double")
        .alias("r2"),
    )
