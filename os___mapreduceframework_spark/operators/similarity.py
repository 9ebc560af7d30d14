"""Similarity search over embeddings (charter extension, SURVEY.md M4).

Two paths:

- **brute-force cosine top-k** -- the exact baseline and the oracle;
  an O(Q x N) broadcast-join when the query set is small (Q queries
  broadcast against the corpus; never N x N).
- **LSH-bucketed ANN** -- the 100 TB path: random-hyperplane signatures
  bucket the corpus once (linear scan, one shuffle on bucket), and each
  query only scores its own bucket. Hyperplane weights are a
  deterministic integer formula (``(p*31 + d*17) % 7 - 3``) so the
  DuckDB oracle computes identical signatures -- no RNG state to ship.

Cosine math stays JVM-side (zip_with/aggregate fold over array<double>),
no Python UDF; results are rounded to 6 places before ranking so
ordering ties break identically across engines (then by vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.operators.minhash import (
    _EMB_BANDS_SQL,
    _SQL_COS4,
    _cosine,
    _cosine_sql,
    canonical_embeddings,
    embedding_scored_pairs,
)
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import (
    embedding_count,
    embedding_dim,
    load_table,
)

N_QUERIES = 5  # vec_id < 5 are the query vectors in fixture terms
TOP_K = 10
N_PLANES = 8

_SQL_COS = _cosine_sql("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]", 6)


def top_k_per_query(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """The ANN family's one top-k tail: keep each query's ``k`` best
    ``(query_id, vec_id, cos_sim)`` rows (cos_sim desc, vec_id asc
    tiebreak, the oracles' ROW_NUMBER order) and sort the result."""
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.col("cos_sim").desc(), "vec_id")
    )


def _exact_topk(emb: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact cosine top-k of the query vectors (vec_id < N_QUERIES of
    ``emb``) over ``corpus``: the small query set is broadcast against
    the corpus, self-matches excluded."""
    a = emb.filter(F.col("vec_id") < N_QUERIES).alias("a")
    b = corpus.alias("b")
    cos = F.round(_cosine(F.col("a.e"), F.col("b.e")), 6)
    return top_k_per_query(
        b.join(F.broadcast(a), F.col("b.vec_id") != F.col("a.vec_id")).select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("vec_id"),
            cos.alias("cos_sim"),
        )
    )


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             {_SQL_COS} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
      FROM embeddings a
      JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, vec_id, cos_sim
    FROM scored WHERE rn <= {TOP_K}
    ORDER BY query_id, cos_sim DESC, vec_id
    """,
    doc="Exact cosine top-k per query vector: small query set broadcast "
    "against the corpus (O(Q*N), one pass over the corpus), per-query "
    "heap via window row_number. The exactness baseline for ANN.",
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return _exact_topk(emb, emb)


def lsh_buckets(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, bucket): random-hyperplane signature.

    bit_p = [ sum_d w(p,d) * e_d >= 0 ] with integer weights
    w(p,d) = (p*31 + d*17) % 7 - 3; bucket = sum_p bit_p << p.
    Linear in corpus size; the per-(vec,plane) partial sums combine
    map-side before the (vec_id, p) exchange.
    """
    spark = emb.sparkSession
    planes = spark.range(0, n_planes).select(F.col("id").cast("int").alias("p"))
    dims = emb.select("vec_id", F.posexplode("e").alias("d", "val"))
    return (
        dims.crossJoin(F.broadcast(planes))
        .groupBy("vec_id", "p")
        .agg(
            F.sum(((F.col("p") * 31 + F.col("d") * 17) % 7 - 3) * F.col("val")).alias("s")
        )
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(F.col("s") >= 0, F.expr("shiftleft(cast(1 as bigint), p)")).otherwise(0)
            ).alias("bucket")
        )
    )


_SQL_BUCKETS = f"""
    dims AS (
      SELECT vec_id, i AS d, (embedding::DOUBLE[])[CAST(i + 1 AS INT)] AS val
      FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
    ),
    sums AS (
      SELECT vec_id, p, SUM(((p * 31 + d * 17) % 7 - 3) * val) AS s
      FROM dims, range(0, {N_PLANES}) AS r(p)
      GROUP BY vec_id, p
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
      FROM sums GROUP BY vec_id
    )
"""


@query(
    "ann_lsh_buckets",
    oracle=f"""
    WITH {_SQL_BUCKETS}
    SELECT bucket, COUNT(*) AS n_vectors
    FROM buckets
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="LSH bucket histogram: signature distribution of the corpus "
    "(sanity surface for the ANN index).",
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return (
        lsh_buckets(emb)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_SQL_BUCKETS},
    scored AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS vec_id,
             {_SQL_COS} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qa.vec_id
                                ORDER BY {_SQL_COS} DESC, qb.vec_id) AS rn
      FROM buckets qa
      JOIN buckets qb ON qa.bucket = qb.bucket AND qb.vec_id <> qa.vec_id
      JOIN embeddings a ON a.vec_id = qa.vec_id
      JOIN embeddings b ON b.vec_id = qb.vec_id
      WHERE qa.vec_id < {N_QUERIES}
    )
    SELECT query_id, vec_id, cos_sim
    FROM scored WHERE rn <= {TOP_K}
    ORDER BY query_id, cos_sim DESC, vec_id
    """,
    doc="ANN top-k via LSH bucketing: queries only score vectors in "
    "their own bucket (equi-join on bucket -- the candidate set shrinks "
    "~2^planes-fold; recall/speed tuned by plane count and multi-probe). "
    "The scale path that replaces the brute-force cross join. Note: the "
    "fixture embeddings are near-uniform random, the worst case for any "
    "ANN index -- observed recall vs brute force is low by construction "
    "(real corpora cluster); correctness is oracle-checked regardless.",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    with_buckets = emb.join(lsh_buckets(emb), "vec_id")
    a = with_buckets.filter(F.col("vec_id") < N_QUERIES).alias("a")
    b = with_buckets.alias("b")
    cos = F.round(_cosine(F.col("a.e"), F.col("b.e")), 6)
    return top_k_per_query(
        b.join(
            F.broadcast(a),
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("vec_id"),
            cos.alias("cos_sim"),
        )
    )


@query(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
    WITH {_SQL_BUCKETS},
    probes AS (
      SELECT vec_id, bucket AS pb FROM buckets WHERE vec_id < {N_QUERIES}
      UNION
      SELECT vec_id, xor(bucket, 1::BIGINT << p) AS pb
      FROM buckets, range(0, {N_PLANES}) AS r(p)
      WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
      -- DISTINCT mirrors the Spark side's dedup: overlapping probes
      -- AND duplicated corpus rows both collapse to one scored pair
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_SQL_COS} AS cos_sim
      FROM probes q
      JOIN buckets c ON c.bucket = q.pb AND c.vec_id <> q.vec_id
      JOIN embeddings a ON a.vec_id = q.vec_id
      JOIN embeddings b ON b.vec_id = c.vec_id
    ),
    scored AS (
      SELECT query_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM pairs
    )
    SELECT query_id, vec_id, cos_sim
    FROM scored WHERE rn <= {TOP_K}
    ORDER BY query_id, cos_sim DESC, vec_id
    """,
    doc="Multi-probe LSH ANN: each query scores its own bucket PLUS all "
    "Hamming-distance-1 buckets (flip each of the 8 signature bits -> 9 "
    "probes). Probing substitutes for index replication: ~9/2^8 of the "
    "corpus scored instead of 1/2^8, recovering most of the recall a "
    "single-probe index loses -- the standard recall/cost dial at "
    "100 TB (probe count tunes it without re-indexing). Candidates are "
    "still equi-joins on bucket; duplicate (query, candidate) pairs "
    "from overlapping probes dedup before scoring.",
)
def q_ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    buckets = lsh_buckets(emb)
    q = buckets.filter(F.col("vec_id") < N_QUERIES)
    probes = (
        q.select("vec_id", F.col("bucket").alias("pb"))
        .union(
            q.crossJoin(
                F.broadcast(
                    emb.sparkSession.range(0, N_PLANES).select(
                        F.col("id").cast("int").alias("p")
                    )
                )
            ).select(
                "vec_id",
                F.expr("bucket ^ shiftleft(cast(1 as bigint), p)").alias("pb"),
            )
        )
        .distinct()
        .join(emb.select(F.col("vec_id"), F.col("e").alias("qe")), "vec_id")
        .select(F.col("vec_id").alias("query_id"), "pb", "qe")
    )
    corpus = emb.join(buckets, "vec_id")
    cos = F.round(_cosine(F.col("qe"), F.col("e")), 6)
    return top_k_per_query(
        corpus.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .distinct()
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             greatest(list_max(list_transform(embedding::DOUBLE[],
                                              x -> abs(x))), 1e-30) AS maxabs
      FROM embeddings
    ), q AS (
      SELECT vec_id, maxabs,
             list_transform(e, x -> CAST(round(x * 127 / maxabs) AS BIGINT))
               AS qe
      FROM m
    )
    SELECT vec_id, ROUND(maxabs / 127, 6) AS scale,
           CAST(list_sum(qe) AS BIGINT) AS q_sum,
           CAST(list_min(qe) AS BIGINT) AS q_min,
           CAST(list_max(qe) AS BIGINT) AS q_max
    FROM q
    ORDER BY vec_id
    """,
    doc="Scalar int8 quantization of the embedding column: per-vector "
    "max-abs scale, q_i = round(x_i * 127 / maxabs) in [-127, 127] -- "
    "4x storage cut for ANN candidate scoring (rescore survivors at "
    "full precision). All JVM-side array lambdas, one scan-local pass, "
    "no shuffle until the manifest sort; the oracle matches on the "
    "integer codes (q_sum/min/max) so the quantized artifact itself is "
    "hash-verified, not just its shape. The 1e-30 floor guards the "
    "all-zero vector.",
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    m = emb.select(
        "vec_id",
        "e",
        F.greatest(
            F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(1e-30)
        ).alias("maxabs"),
    )
    q = m.select(
        "vec_id",
        "maxabs",
        F.transform(
            "e", lambda x: F.round(x * 127 / F.col("maxabs")).cast("long")
        ).alias("qe"),
    )
    return q.select(
        "vec_id",
        F.round(F.col("maxabs") / 127, 6).alias("scale"),
        F.aggregate("qe", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qe").alias("q_min"),
        F.array_max("qe").alias("q_max"),
    ).orderBy("vec_id")


@query(
    "embedding_gram_matrix",
    oracle="""
    WITH rows_ AS (
      -- keyed by PHYSICAL row, not vec_id: a replayed/duplicated row
      -- contributes its products once per copy (X^T X over the row
      -- multiset, the Spark derivation), never cross-paired with its
      -- twin the way a vec_id self-join would
      SELECT ROW_NUMBER() OVER () AS rid, embedding::DOUBLE[] AS e
      FROM embeddings
    ),
    dims AS (
      SELECT rid, i AS d, e[CAST(i + 1 AS INT)] AS val
      FROM rows_, unnest(range(0, len(e))) AS u(i)
    )
    SELECT a.d AS i, b.d AS j,
           CAST(ROUND(CAST(SUM(CAST(ROUND(a.val * b.val * 1000.0)
                                    AS DECIMAL(38,0))) AS DOUBLE)
                      / 1000.0, 3) AS DOUBLE) AS g
    FROM dims a JOIN dims b ON a.rid = b.rid AND a.d <= b.d
    GROUP BY 1, 2
    ORDER BY i, j
    """,
    doc="Distributed Gram matrix (X^T X, upper triangle) over the "
    "embedding corpus -- the PCA/whitening primitive. Each product "
    "is snapped to milli-units (one IEEE multiply + half-away-from-"
    "zero round -- identical doubles in, identical integers out on "
    "both engines; double->DECIMAL casts are NOT bit-portable at "
    "large magnitude), and the per-(i, j) sums run over those exact "
    "integers: ORDER-INDEPENDENT and bit-identical across engines at "
    "ANY data magnitude (float partial merges diverged visibly once "
    "the adversarial corpus held a 1e6-scale vector). Since r7 the "
    "snap+partial-sum is one Arrow-batched numpy pass per partition "
    "(the sanctioned vectorized-UDF case: the exploded higher-order "
    "form pushed n x dim^2/2 rows through round/decimal codegen -- "
    "45.5 s at sf1.0, the slowest registry query; this pass is 1.8 s) "
    "emitting O(dim^2) exact-integer cells per partition, int64-"
    "summed under a rigorous overflow bound with arbitrary-precision "
    "Python-int fallback past it -- integer addition is associative, "
    "so the partial regroup is the same exact sum. The exchange stays "
    "O(partitions x dim^2) cells like the HLL rollup (the "
    "cuboid-style fused matrix-op pattern, FuseME SIGMOD 2022). "
    "Oracle is the dims self-join with the identical decimal sum.",
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )

    # Per-partition integer partials instead of exploding dim^2/2 rows
    # per VECTOR through round/decimal-cast codegen (41.6M rows at
    # sf1.0 -- 45.5 s, the slowest registry query; this pass is ~6x).
    # BIT-IDENTICAL to the exploded form by construction: each per-row
    # product is snapped to milli-units with ROUND's half-AWAY-FROM-
    # ZERO (sign * floor(|1000p| + 0.5) -- np.round would half-EVEN,
    # which diverges on dyadic products like 0.0625), non-finite
    # products are dropped exactly where the decimal cast yields NULL,
    # and integer addition is associative so partial-summing per chunk
    # then per (i, j) is the same exact sum the decimal aggregate
    # computes. int64 chunk sums carry a rigorous no-overflow bound
    # (max|q| * rows < 2^62); chunks that exceed it (adversarial
    # ~1e6-scale vectors push products past 1e15) fall back to exact
    # arbitrary-precision Python-int accumulation, float->int being
    # exact at every magnitude. Ragged rows group by length and
    # contribute only their own dims, like the oracle's unnest.
    def partials(batches):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        acc: dict = {}
        seen_lengths: set = set()
        for pdf in batches:
            rows = [
                np.asarray(e, dtype=np.float64)
                for e in pdf["e"].values
                if e is not None and len(e) > 0
            ]
            by_len: dict = {}
            for v in rows:
                by_len.setdefault(len(v), []).append(v)
            for dim, group in by_len.items():
                seen_lengths.add(dim)
                V = np.stack(group)
                for lo in range(0, len(V), 512):
                    C = V[lo : lo + 512]
                    P = C[:, :, None] * C[:, None, :] * 1000.0
                    Q = np.sign(P) * np.floor(np.abs(P) + 0.5)
                    finite = np.isfinite(Q)
                    maxabs = np.abs(np.where(finite, Q, 0.0)).max() if Q.size else 0.0
                    iu, ju = np.triu_indices(dim)
                    if maxabs * C.shape[0] < float(2**62):
                        S = np.where(finite, Q, 0.0).astype(np.int64).sum(axis=0)
                        cnt = finite.sum(axis=0)
                        for i, j in zip(iu, ju):
                            if cnt[i, j]:
                                key = (int(i), int(j))
                                acc[key] = acc.get(key, 0) + int(S[i, j])
                    else:
                        for r in range(C.shape[0]):
                            for i, j in zip(iu, ju):
                                if finite[r, i, j]:
                                    key = (int(i), int(j))
                                    acc[key] = acc.get(key, 0) + int(Q[r, i, j])
        # a cell is PRESENT when any physical row covers its dims, even
        # if every product there was non-finite (the exploded form and
        # the oracle both emit such groups, summing to NULL g)
        present: set = set()
        for dim in seen_lengths:
            iu, ju = np.triu_indices(dim)
            present.update((int(i), int(j)) for i, j in zip(iu, ju))
        keys = sorted(present)
        yield pd.DataFrame(
            {
                "i": [k[0] for k in keys],
                "j": [k[1] for k in keys],
                "p": [
                    Decimal(acc[k]) if k in acc else None for k in keys
                ],
            }
        )

    pairs = emb.mapInPandas(partials, schema="i long, j long, p decimal(38,0)")
    return (
        pairs.groupBy("i", "j")
        .agg(
            F.round(F.sum("p").cast("double") / 1000.0, 3)
            .cast("double")
            .alias("g")
        )
        .orderBy("i", "j")
    )


@query(
    "ann_filtered_topk",
    oracle=f"""
    WITH gated AS (
      -- EXISTS, not JOIN: the gate is a SEMI-join on the Spark side,
      -- so duplicated document rows must not fan the candidate corpus
      -- out (a JOIN would double every candidate's multiplicity and
      -- shift the top-k cut under replayed rows)
      SELECT e.* FROM embeddings e
      WHERE EXISTS (SELECT 1 FROM documents d
                    WHERE d.doc_id = e.vec_id AND d.lang = 'en')
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             {_SQL_COS} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
      FROM embeddings a
      JOIN gated b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, vec_id, cos_sim
    FROM scored WHERE rn <= {TOP_K}
    ORDER BY query_id, cos_sim DESC, vec_id
    """,
    doc="METADATA-FILTERED similarity search (the production retrieval "
    "shape: top-k among vectors whose document passes a gate, here "
    "lang='en'). The gate applies BEFORE any distance math: a semi-join "
    "from the filtered documents to the co-keyed embeddings prunes the "
    "candidate corpus, then the exact cosine top-k runs over the "
    "survivors only -- at 100 TB the gate's selectivity multiplies "
    "directly into the scan and score cost, and the same pre-filter "
    "composes with the LSH/IVF candidate paths unchanged.",
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    en_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return _exact_topk(emb, emb.join(en_docs, "vec_id", "left_semi"))


@query(
    "embedding_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    )
    SELECT label, dim,
           CAST(ROUND(AVG(v), 4) + 0.0 AS DOUBLE) AS centroid,
           COUNT(*) AS n_vecs
    FROM ex
    GROUP BY label, dim
    ORDER BY label, dim
    """,
    doc="Per-label mean embedding (class centroids): posexplode to "
    "(label, dim, v) and average -- one partial+final hash aggregate on "
    "(label, dim), map-side-combined, state is labels x dims regardless "
    "of corpus size. The centroid table is the input to classifier "
    "init, cluster naming, and the cohesion audit below.",
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("dim0", "v"))
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).cast("double").alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


@query(
    "embedding_label_cohesion",
    oracle=f"""
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, CAST(ROUND(AVG(v), 4) + 0.0 AS DOUBLE) AS c
      FROM ex GROUP BY label, dim
    ),
    cvec AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
    cos AS (
      SELECT e.vec_id, e.label,
             {_cosine_sql("e.embedding::DOUBLE[]", "cv.cv", 6)} AS cs
      FROM embeddings e JOIN cvec cv USING (label)
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(ROUND(AVG(cs), 4) + 0.0 AS DOUBLE) AS mean_cos,
           CAST(ROUND(MIN(cs), 4) + 0.0 AS DOUBLE) AS min_cos
    FROM cos
    GROUP BY label
    ORDER BY label
    """,
    doc="Intra-class cohesion: cosine of each vector to its label "
    "centroid, aggregated per label. Two passes over the corpus; the "
    "centroid table (labels x dims, tiny) is re-packed to arrays and "
    "broadcast into the second scan -- no shuffle of the embedding "
    "side. Low cohesion flags mislabeled or noisy training classes.",
)
def q_embedding_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim0", "v"))
        .groupBy("label", F.col("dim0").alias("dim"))
        .agg((F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).cast("double").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sc"))
        .select("label", F.expr("transform(sc, x -> x.c)").alias("cv"))
    )
    cos = F.round(
        _cosine(F.expr("transform(embedding, x -> cast(x as double))"), F.col("cv")), 6
    )
    return (
        emb.join(F.broadcast(cent), "label")
        .select("label", cos.alias("cs"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.round(F.avg("cs"), 4) + F.lit(0.0)).cast("double").alias("mean_cos"),
            (F.round(F.min("cs"), 4) + F.lit(0.0)).cast("double").alias("min_cos"),
        )
        .orderBy("label")
    )


PCA_TOP_K = 8


def _dense_batch(vals, dim):
    """Stack a pandas array column into a dense (n, dim) float matrix,
    SKIPPING NULL/empty vectors (the oracle's unnest of a NULL/empty
    list yields zero dim rows) and zero-padding/truncating ragged ones
    to ``dim`` (short lists contribute only their own dims). One
    failed-encoder NULL row must never crash a corpus-scale numpy
    batch (np.vstack on None did, round 6). Returns (E, keep_idx)."""
    import numpy as np

    keep = [i for i, v in enumerate(vals) if v is not None and len(v) > 0]
    E = np.zeros((len(keep), dim), dtype=np.float64)
    for r, i in enumerate(keep):
        t = np.asarray(vals[i][:dim], dtype=np.float64)
        E[r, : len(t)] = t
    return E, keep


def _collect_moments(df: DataFrame, col: str, dim: int):
    """Distributed (G = sum x x^T, s = sum x, n) over an array<double>
    column in ONE scan: numpy partials per partition, merged by a
    (i, j) sum aggregate, collected to the driver -- dim*(dim+1)/2 +
    dim + 1 rows, metadata-sized and corpus-size-independent. Returns
    (G, s, n) as numpy/float."""
    import numpy as np

    def partial_moments(batches):
        import pandas as pd

        G = np.zeros((dim, dim))
        s = np.zeros(dim)
        n = 0
        for pdf in batches:
            if len(pdf):
                E, _ = _dense_batch(pdf[col].values, dim)
                if not len(E):
                    continue
                G += E.T @ E
                s += E.sum(axis=0)
                n += len(E)
        if n:
            iu, ju = np.triu_indices(dim)
            out = pd.DataFrame(
                {"i": iu.astype("int64"), "j": ju.astype("int64"), "g": G[iu, ju]}
            )
            mean_rows = pd.DataFrame(
                {"i": np.arange(dim, dtype="int64"), "j": -1, "g": s}
            )
            count_row = pd.DataFrame({"i": [-1], "j": [-1], "g": [float(n)]})
            yield pd.concat([out, mean_rows, count_row], ignore_index=True)

    merged = (
        df.select(F.col(col).alias(col))
        .mapInPandas(partial_moments, schema="i long, j long, g double")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    G = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0.0
    for r in merged:
        if r["i"] == -1:
            n = r["g"]
        elif r["j"] == -1:
            s[r["i"]] = r["g"]
        else:
            G[r["i"], r["j"]] = r["g"]
            G[r["j"], r["i"]] = r["g"]
    return G, s, n



def _pca_decomposition(spark, sf_dir, emb):
    """Shared PCA prologue for the pca/whitening queries: one-scan
    moments + driver-side eigensolve of the dim x dim covariance.
    Returns (dim, n, mu, C, evals_desc, evecs_desc), or None when the
    corpus is empty (0 rows or all-null embeddings) -- callers return
    an empty result frame instead of dividing by zero. The dim probe is
    the memoized per-session one (sources.embedding_dim), so pca +
    whitening + gram share ONE limit-1 job instead of three."""
    import numpy as np

    dim = embedding_dim(spark, sf_dir)
    if dim == 0:
        return None
    G, s, n = _collect_moments(emb, "e", dim)
    if n == 0:
        return None
    mu = s / n
    C = G / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(C)
    return dim, n, mu, C, evals[::-1], evecs[:, ::-1]


_PCA_SCHEMA = (
    "component long, total_var double, nonneg_ok boolean, "
    "trace_ok boolean, recon_ok boolean"
)


@query(
    "embedding_pca_variance",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, i AS d, (embedding::DOUBLE[])[CAST(i + 1 AS INT)] AS val
      FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
    ),
    var_d AS (
      SELECT d, AVG(val * val) - AVG(val) * AVG(val) AS v
      FROM dims GROUP BY d
    ),
    t AS (SELECT CAST(ROUND(SUM(v), 4) AS DOUBLE) AS total_var FROM var_d
          HAVING COUNT(*) > 0)
    SELECT u.c AS component, t.total_var,
           TRUE AS nonneg_ok, TRUE AS trace_ok, TRUE AS recon_ok
    FROM t, unnest(range(0, {PCA_TOP_K})) AS u(c)
    ORDER BY component
    """,
    doc="Distributed PCA over the embedding corpus: ONE scan aggregates "
    "the dim x dim second-moment (Gram) matrix, the mean vector, and "
    "the count as numpy partials per partition (merge state is "
    "corpus-size-independent, same shape as embedding_gram_matrix); "
    "the driver eigensolves the dim x dim covariance -- metadata-"
    "sized, the step every distributed PCA (including Spark MLlib's) "
    "does centrally. Eigenvalues are not SQL-derivable, so the oracle "
    "pins the audit contract instead: the exact covariance trace "
    "(DuckDB recomputes it from raw values) plus flags the "
    "eigensolve must satisfy -- PSD spectrum (nonneg_ok), "
    "sum(eigenvalues) == trace (trace_ok), and ||C - Q L Q^T||_max "
    "small (recon_ok). A broken decomposition fails the hash.",
)
def q_embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    dec = _pca_decomposition(spark, sf_dir, emb)
    if dec is None:
        return spark.createDataFrame([], _PCA_SCHEMA)
    _dim, _n, _mu, C, evals, evecs = dec
    trace = float(np.trace(C))
    tol = 1e-8 * max(1.0, abs(trace))
    nonneg_ok = bool(evals.min() >= -tol)
    trace_ok = bool(abs(evals.sum() - trace) <= 1e-6 * max(1.0, abs(trace)))
    recon = evecs @ np.diag(evals) @ evecs.T
    recon_ok = bool(np.abs(recon - C).max() <= 1e-8 * max(1.0, np.abs(C).max()))
    rows = [
        (int(c), round(trace, 4), nonneg_ok, trace_ok, recon_ok)
        for c in range(PCA_TOP_K)
    ]
    return spark.createDataFrame(rows, _PCA_SCHEMA).orderBy("component")


_WHITEN_SCHEMA = (
    "n bigint, dim int, k int, mean_zero_ok boolean, "
    "whitened_cov_ok boolean"
)


@query(
    "embedding_whitening_check",
    oracle=f"""
    SELECT CAST(COUNT(*) FILTER (embedding IS NOT NULL
                                 AND len(embedding) > 0) AS BIGINT) AS n,
           CAST(MAX(len(embedding)) AS INT) AS dim,
           {PCA_TOP_K} AS k,
           TRUE AS mean_zero_ok,
           TRUE AS whitened_cov_ok
    FROM embeddings
    HAVING COUNT(*) FILTER (embedding IS NOT NULL
                            AND len(embedding) > 0) > 0
    """,
    doc="PCA whitening applied AND verified distributively (closes the "
    "loop embedding_pca_variance opens): train W = V_k diag(1/sqrt("
    "lambda_k)) from the one-scan covariance moments, broadcast the "
    "dim x k projection into a SECOND distributed pass that both "
    "whitens every embedding and aggregates the whitened data's own "
    "k x k moments (numpy partials, merge state k^2 -- corpus-size-"
    "independent), then flag what whitening must produce: mean(z) = 0 "
    "and cov(z) = I within fp tolerance. The oracle pins the exact "
    "corpus count/dims plus the flags; a wrong projection, a stale "
    "mean, or a transposed eigenbasis flips a flag and fails the "
    "hash.",
)
def q_embedding_whitening_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    dec = _pca_decomposition(spark, sf_dir, emb)
    if dec is None:
        return spark.createDataFrame([], _WHITEN_SCHEMA)
    dim, n, mu, _C, evals, evecs = dec
    k = PCA_TOP_K
    lam = np.maximum(evals[:k], 1e-12)
    W_mat = evecs[:, :k] / np.sqrt(lam)  # dim x k

    def whitened_moments(batches):
        import pandas as pd

        Gz = np.zeros((k, k))
        sz = np.zeros(k)
        m = 0
        for pdf in batches:
            if len(pdf):
                E, _ = _dense_batch(pdf["e"].values, len(mu))
                if not len(E):
                    continue
                E = E - mu
                Z = E @ W_mat
                Gz += Z.T @ Z
                sz += Z.sum(axis=0)
                m += len(Z)
        if m:
            iu, ju = np.indices((k, k))
            out = pd.DataFrame(
                {
                    "i": iu.ravel().astype("int64"),
                    "j": ju.ravel().astype("int64"),
                    "g": Gz.ravel(),
                }
            )
            mean_rows = pd.DataFrame(
                {"i": np.arange(k, dtype="int64"), "j": -1, "g": sz}
            )
            count_row = pd.DataFrame({"i": [-1], "j": [-1], "g": [float(m)]})
            yield pd.concat([out, mean_rows, count_row], ignore_index=True)

    merged = (
        emb.mapInPandas(whitened_moments, schema="i long, j long, g double")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .collect()  # k*k + k + 1 rows
    )
    Gz = np.zeros((k, k))
    sz = np.zeros(k)
    m = 0.0
    for r in merged:
        if r["i"] == -1:
            m = r["g"]
        elif r["j"] == -1:
            sz[r["i"]] = r["g"]
        else:
            Gz[r["i"], r["j"]] = r["g"]
    mean_z = sz / m
    cov_z = Gz / m - np.outer(mean_z, mean_z)
    # conditioning-aware tolerances: the whitened moments are exact in
    # real arithmetic, but their float error grows ~ eps * kappa(C)
    # (catastrophic cancellation through 1/sqrt(lambda)). A fixed 1e-6
    # is right for well-scaled corpora and WRONG the moment one
    # 1e6-magnitude vector drives kappa to ~1e12 (adversarial sweep
    # finding): the check then flags correct whitening as broken. On
    # clean data kappa is O(10) and the tolerances reduce to the
    # original constants.
    kappa = float(np.abs(evals).max() / max(float(lam.min()), 1e-12))
    tol_mean = max(1e-8, 1e-15 * kappa)
    tol_cov = max(1e-6, 1e-13 * kappa)
    mean_zero_ok = bool(np.abs(mean_z).max() <= tol_mean)
    # a single sample has no second moment to verify: its sample
    # covariance is identically 0, not I, in ANY correct whitening --
    # the identity check is vacuously satisfied (degenerate-input
    # contract, singleton-fixture sweep)
    whitened_cov_ok = (
        True if m <= 1 else bool(np.abs(cov_z - np.eye(k)).max() <= tol_cov)
    )
    return spark.createDataFrame(
        [(int(n), int(dim), int(PCA_TOP_K), mean_zero_ok, whitened_cov_ok)],
        _WHITEN_SCHEMA,
    )


@query(
    "ann_knn_join_all",
    oracle="""
    WITH {bands},
    pairs AS (SELECT vec_a AS v, vec_b AS n FROM ecand
              UNION SELECT vec_b, vec_a FROM ecand),
    scored AS (
      SELECT p.v, p.n, {cos4} AS cs
      FROM pairs p
      JOIN cemb a ON a.vec_id = p.v
      JOIN cemb b ON b.vec_id = p.n
    ),
    ranked AS (
      SELECT v, n, cs,
             ROW_NUMBER() OVER (PARTITION BY v
                                ORDER BY cs DESC NULLS LAST, n) AS rn
      FROM scored
    )
    SELECT e.vec_id, r.n AS nbr_id, r.cs AS cos_sim
    FROM cemb e
    LEFT JOIN ranked r ON r.v = e.vec_id AND r.rn = 1
    ORDER BY vec_id
    """.format(bands=_EMB_BANDS_SQL, cos4=_SQL_COS4),
    doc="ALL-corpus kNN join (k=1): every vector's nearest neighbor, "
    "not just a fixed query set's -- the self-join shape behind "
    "semantic-dedup audits and embedding-quality evaluation. "
    "Candidates come from the banded hyperplane LSH (bucketed "
    "equi-join, both directions of each collision), exact cosine runs "
    "on candidates only, and the per-vector argmax is ONE max_by "
    "aggregate over a (cos, -nbr) struct -- no per-vector sort, one "
    "row of state per vector however hot its bucket. Vectors with no "
    "candidate (or only zero-vector NULL cosines) surface with a NULL "
    "neighbor/score instead of vanishing. At 100 TB this is the "
    "standard LSH kNN-join dataflow; recall follows the banding "
    "parameters like dedup_embedding_near.",
)
def q_ann_knn_join_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical vector per id (duplicate-replay contract; cemb twin);
    # two consumers since r10 (the banding pass, which carries the
    # vectors itself, and the final id list) -- one lazy
    # localCheckpoint materializes the canonical agg once instead of
    # re-shuffling the corpus per consumer
    emb = canonical_embeddings(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    ).localCheckpoint(eager=False)
    # undirected capped candidates WITH their exact cosine, scored
    # inside the bucket self-join (embedding_scored_pairs): vectors ride
    # the band rows, so no exchange ever carries a pair+vector fat row
    # -- the r6 composition's second corpus join shuffled ~pairs x 550 B
    # and DNF'd this box's disk at the 600k-vector fixture. Each
    # UNDIRECTED pair is scored once and expanded to both directions on
    # the narrow (v, n, cs) rows: cosine is direction-symmetric down to
    # the bit (elementwise zip_with products, commutative na*nb).
    # dedup=False: the per-vector argmax below is invariant to the same
    # pair colliding in several bands (identical (v, n, cs) rows cannot
    # change a max_by), and the pair-level de-dup is a ~candidate-set-
    # GROUP aggregate that OOM'd the 600k-vector point for no benefit
    scored_once = embedding_scored_pairs(
        emb,
        dim=embedding_dim(spark, sf_dir),
        n_vectors=embedding_count(spark, sf_dir),
        dedup=False,
    )
    # both directions from ONE pass over the scored pairs (explode of a
    # 2-struct array), not a self-union: a union would either re-run
    # the whole scored self-join per branch or need a localCheckpoint
    # of the pair stream -- and materializing ~cand-set rows on top of
    # the band-row checkpoint OOM-crashed the 200k-vector point
    scored = scored_once.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("v"),
                    F.col("id_b").alias("n"),
                    F.col("cs"),
                ),
                F.struct(
                    F.col("id_b").alias("v"),
                    F.col("id_a").alias("n"),
                    F.col("cs"),
                ),
            )
        ).alias("d")
    ).select("d.v", "d.n", "d.cs")
    # argmax per vector: lexicographic (cs, -n) struct -- max cosine,
    # ties to the smallest neighbor id; NULL cs sorts below any value
    # in struct comparison, matching the oracle's NULLS LAST
    best = scored.groupBy("v").agg(
        F.max_by(
            F.struct(F.col("n"), F.col("cs")),
            F.struct(F.col("cs"), (-F.col("n")).alias("neg_n")),
        ).alias("best")
    )
    return (
        emb.select("vec_id")
        .join(best, emb["vec_id"] == best["v"], "left")
        .select(
            "vec_id",
            F.col("best.n").alias("nbr_id"),
            F.col("best.cs").alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


K_MEANS_K = 4
K_MEANS_ITERS = 2


def _kmeans_ctes(
    k: int = K_MEANS_K,
    n_iter: int = K_MEANS_ITERS,
    prefix: str = "",
    dim_filter: str = "",
) -> str:
    """Lloyd's k-means unrolled as DuckDB CTEs (exact-oracle body for an
    iterative, data-dependent algorithm -- the pagerank/BPE pattern);
    the final assignment table is ``{prefix}a{n_iter}``. Distances are
    rounded to 6 places BEFORE the argmin and centroid means to 6
    places after each update, so cross-engine float-sum ordering noise
    (~1e-13) cannot flip assignments. ``prefix`` namespaces every CTE
    so multiple instances compose in one query (product quantization
    runs one per subspace); ``dim_filter`` restricts the exploded dims
    (e.g. a subspace's dimension range). Shared by the k-means query,
    the cluster-balance curation query, and the PQ codebooks."""
    p = prefix
    # the filter references the unnest aliases, so it wraps the explode
    # in a subselect (DuckDB cannot filter unnest output in-SELECT)
    inner = """SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                    unnest(embedding)::DOUBLE AS v
             FROM embeddings"""
    dims_body = (
        f"SELECT * FROM ({inner}) zz WHERE {dim_filter}" if dim_filter else inner
    )
    cte = [
        f"""
    {p}dims AS ({dims_body}),
    {p}seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
              FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}) z),
    {p}c0 AS (SELECT s.cid, d.dim, d.v AS c
           FROM {p}seeds s JOIN {p}dims d USING (vec_id))"""
    ]
    for j in range(1, n_iter + 1):
        i = j - 1
        cte.append(f"""
    {p}d{j} AS (SELECT d.vec_id, c.cid,
                    ROUND(SUM((d.v - c.c) * (d.v - c.c)), 6) AS dist
             FROM {p}dims d JOIN {p}c{i} c ON c.dim = d.dim
             GROUP BY d.vec_id, c.cid),
    {p}a{j} AS (SELECT vec_id, cid, dist FROM (
               SELECT vec_id, cid, dist,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rk
               FROM {p}d{j}) z WHERE rk = 1),
    {p}c{j} AS (SELECT a.cid, d.dim, CAST(ROUND(AVG(d.v), 6) + 0.0 AS DOUBLE) AS c
             FROM {p}a{j} a JOIN {p}dims d USING (vec_id)
             GROUP BY a.cid, d.dim)""")
    return ",".join(cte)


def _kmeans_oracle(k: int = K_MEANS_K, n_iter: int = K_MEANS_ITERS) -> str:
    return (
        "WITH "
        + _kmeans_ctes(k, n_iter)
        + f"""
    SELECT cid, COUNT(*) AS n_members,
           CAST(ROUND(CAST(SUM(CAST(ROUND(dist * 1000.0) AS DECIMAL(38,0)))
                           AS DOUBLE) / 1000.0 / COUNT(*), 4) + 0.0
                AS DOUBLE) AS mean_sqdist
    FROM a{n_iter}
    GROUP BY cid
    ORDER BY cid
    """
    )


@query(
    "embedding_kmeans_clusters",
    oracle=_kmeans_oracle(),
    doc="Iterative Lloyd's k-means (k=4, 2 assignment/update rounds) "
    "over the embedding corpus -- the clustering engine under semantic "
    "data curation (topic balancing, diversity sampling). Deterministic "
    "seeding (k smallest vec_ids); each round: the k x dim centroid "
    "table BROADCASTS into the exploded (vec_id, dim, v) rows (join on "
    "dim -- no corpus shuffle for scoring), per-(vec, centroid) squared "
    "distance is one map-side-combined aggregate, the per-vector argmin "
    "is ONE min_by((cid, dist), (dist, cid)) aggregate (no sort), and "
    "the centroid update is a (cid, dim) hash aggregate whose state is "
    "k x dim regardless of corpus size. Centroids localCheckpoint per "
    "round (lineage truncation); distances/means rounded identically "
    "on both engines so float-sum ordering cannot flip an assignment. "
    "Output: per-cluster membership count and mean squared distance. "
    "Oracle: the same recurrence unrolled as chained CTEs.",
)
def q_embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = kmeans_assignments(spark, sf_dir)
    # mean distance via milli-unit integer sums (the gram-matrix trick):
    # per-row dists are engine-identical, but a float AVG across members
    # is order-sensitive -- visible once an adversarial 1e6-scale vector
    # pushes dists to 1e12, where ROUND(.., 4) cannot absorb the noise
    exact_sum = F.sum(
        F.round(F.col("dist") * 1000.0).cast("decimal(38,0)")
    ).cast("double")
    return (
        assign.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.round(exact_sum / 1000.0 / F.count(F.lit(1)), 4) + F.lit(0.0))
            .cast("double")
            .alias("mean_sqdist"),
        )
        .orderBy("cid")
    )


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, dist): the final Lloyd's-iteration assignment --
    shared by the k-means summary query and the cluster-balance
    curation weights (one implementation, two contracts)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # the exploded input is the per-iteration scan: materialize once
    # (MLlib caches its input the same way)
    dims = (
        emb.select("vec_id", F.posexplode("e").alias("dim0", "v"))
        .select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
        .localCheckpoint(eager=False)
    )
    return _kmeans_assign_dims(emb, dims)


def _kmeans_assign_dims(
    emb: DataFrame,
    dims: DataFrame,
    k: int = K_MEANS_K,
    n_iter: int = K_MEANS_ITERS,
    return_centroids: bool = False,
):
    """Lloyd's iterations over a pre-exploded (vec_id, dim, v) frame
    (caller checkpoints it); seeds are the k smallest vec_ids. Also
    drives the per-subspace codebooks of product quantization."""
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            "vec_id",
            (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cid"),
        )
    )
    c = seeds.join(dims, "vec_id").select("cid", "dim", F.col("v").alias("c"))
    assign = None
    for _ in range(n_iter):
        d = (
            dims.join(F.broadcast(c), "dim")
            .groupBy("vec_id", "cid")
            .agg(F.round(F.sum((F.col("v") - F.col("c")) ** 2), 6).alias("dist"))
        )
        assign = (
            d.groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct("cid", "dist"), F.struct("dist", "cid")
                ).alias("best")
            )
            .select("vec_id", F.col("best.cid").alias("cid"), F.col("best.dist").alias("dist"))
        )
        c = (
            assign.join(dims, "vec_id")
            .groupBy("cid", "dim")
            .agg((F.round(F.avg("v"), 6) + F.lit(0.0)).cast("double").alias("c"))
            .localCheckpoint(eager=False)
        )
    return (assign, c) if return_centroids else assign


CLUSTER_BALANCE_TEMP = 0.5  # sampling temperature: weight ~ n^(T-1)
CLUSTER_BALANCE_BUDGET = 1000  # target corpus-sample size


@query(
    "curation_cluster_balance",
    oracle="WITH "
    + _kmeans_ctes()
    + f""",
    sizes AS (SELECT cid, COUNT(*) AS n_members FROM a{K_MEANS_ITERS} GROUP BY cid),
    tot AS (SELECT SUM(POW(n_members, {CLUSTER_BALANCE_TEMP} - 1)) AS z FROM sizes)
    SELECT s.cid, s.n_members,
           CAST(ROUND(POW(s.n_members, {CLUSTER_BALANCE_TEMP} - 1) / t.z, 6)
                AS DOUBLE) AS weight,
           CAST(FLOOR({CLUSTER_BALANCE_BUDGET}
                * POW(s.n_members, {CLUSTER_BALANCE_TEMP} - 1) / t.z) AS BIGINT)
             AS quota
    FROM sizes s, tot t
    ORDER BY cid
    """,
    doc="Diversity-balanced sampling weights over the k-means clusters "
    "(the semantic sibling of curation_mix_weights): per-cluster weight "
    "~ n^(T-1) with temperature T=0.5 (inverse-sqrt size -- upweights "
    "rare topics, the DoReMi/cluster-balancing move), normalized by a "
    "1-row broadcast total, plus the floor quota against a fixed "
    "sample budget. Composes kmeans_assignments (one shared "
    "implementation); everything after the assignment is k-row "
    "arithmetic. Oracle: the shared unrolled k-means CTEs + the same "
    "weight algebra.",
)
def q_curation_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = (
        kmeans_assignments(spark, sf_dir)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    tot = sizes.agg(
        F.sum(F.pow("n_members", F.lit(CLUSTER_BALANCE_TEMP - 1))).alias("z")
    )
    w = F.pow("n_members", F.lit(CLUSTER_BALANCE_TEMP - 1)) / F.col("z")
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n_members",
            F.round(w, 6).cast("double").alias("weight"),
            F.floor(F.lit(CLUSTER_BALANCE_BUDGET) * w).cast("bigint").alias("quota"),
        )
        .orderBy("cid")
    )


_PQ_HALF_SQL = "(SELECT MAX(len(embedding)) FROM embeddings) // 2"


@query(
    "embedding_pq_codes",
    oracle="WITH "
    + _kmeans_ctes(prefix="p0_", dim_filter=f"dim <= {_PQ_HALF_SQL}")
    + ","
    + _kmeans_ctes(prefix="p1_", dim_filter=f"dim > {_PQ_HALF_SQL}")
    + f"""
    SELECT vec_id, 0 AS sub, cid AS code,
           CAST(ROUND(LN(1 + dist), 6) AS DOUBLE) AS ln_qdist
    FROM p0_a{K_MEANS_ITERS}
    UNION ALL
    SELECT vec_id, 1 AS sub, cid AS code,
           CAST(ROUND(LN(1 + dist), 6) AS DOUBLE) AS ln_qdist
    FROM p1_a{K_MEANS_ITERS}
    ORDER BY vec_id, sub
    """,
    doc="PRODUCT QUANTIZATION codebook training + encoding (the "
    "IVF-PQ building block behind billion-vector ANN): the embedding "
    "splits into two subspaces, each trains its own Lloyd's codebook "
    "(the shared _kmeans_assign_dims machinery -- broadcast centroid "
    "scoring, k x dim/2 state per subspace), and every vector is "
    "encoded as one code per subspace plus its quantization error. "
    "Memory per vector drops from dim floats to M log2(k) bits, and "
    "at serving time asymmetric distances come from M tiny lookup "
    "tables instead of full-vector math. Both subspace trainings "
    "share ONE checkpointed dims explode (filtered per subspace). "
    "Oracle: two prefixed instances of the unrolled k-means CTE "
    "chain, one per subspace.",
)
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    half = embedding_dim(spark, sf_dir) // 2
    dims = (
        emb.select("vec_id", F.posexplode("e").alias("dim0", "v"))
        .select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
        .localCheckpoint(eager=False)
    )
    outs = []
    for sub, flt in (
        (0, F.col("dim") <= half),
        (1, F.col("dim") > half),
    ):
        assign = _kmeans_assign_dims(emb, dims.filter(flt))
        outs.append(
            assign.select(
                "vec_id",
                F.lit(sub).alias("sub"),
                F.col("cid").alias("code"),
                # log-scale error: a raw distance is one float ulp apart
                # across engines at extreme magnitude (adversarial
                # 1e6-vector -> 1e11 dists), which no fixed-decimal
                # rounding absorbs; ln(1+d) makes the noise absolute
                # (~1e-16) where ROUND(.., 6) is safely coarse
                F.round(F.log1p("dist"), 6).cast("double").alias("ln_qdist"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("vec_id", "sub")


def _pq_lut_sql(p: str) -> str:
    """Query-to-codebook lookup table for one subspace (prefix ``p``):
    exact squared distance from each query sub-vector to each centroid."""
    return f"""
    {p}q AS (SELECT vec_id AS qid, dim, v FROM {p}dims
             WHERE vec_id < {N_QUERIES}),
    {p}lut AS (SELECT q.qid, c.cid,
                      ROUND(SUM((q.v - c.c) * (q.v - c.c)), 6) AS d
               FROM {p}q q JOIN {p}c{K_MEANS_ITERS} c ON c.dim = q.dim
               GROUP BY q.qid, c.cid)"""


@query(
    "ann_pq_adc_topk",
    oracle="WITH "
    + _kmeans_ctes(prefix="p0_", dim_filter=f"dim <= {_PQ_HALF_SQL}")
    + ","
    + _kmeans_ctes(prefix="p1_", dim_filter=f"dim > {_PQ_HALF_SQL}")
    + ","
    + _pq_lut_sql("p0_")
    + ","
    + _pq_lut_sql("p1_")
    + f""",
    sc AS (
      SELECT l.qid, a.vec_id, l.d
      FROM p0_a{K_MEANS_ITERS} a JOIN p0_lut l ON l.cid = a.cid
      UNION ALL
      SELECT l.qid, a.vec_id, l.d
      FROM p1_a{K_MEANS_ITERS} a JOIN p1_lut l ON l.cid = a.cid
    ),
    adc AS (
      SELECT qid, vec_id, ROUND(LN(1 + SUM(d)), 6) AS ln_adc
      FROM sc GROUP BY qid, vec_id
    ),
    ranked AS (
      SELECT qid, vec_id, ln_adc,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ln_adc, vec_id) AS rk
      FROM adc WHERE vec_id <> qid
    )
    SELECT qid AS query_id, vec_id, ln_adc
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, ln_adc, vec_id
    """,
    doc="PQ top-k via ASYMMETRIC DISTANCE COMPUTATION -- the serving "
    "half of IVF-PQ (embedding_pq_codes trains the codebooks): each "
    "query computes ONE tiny lookup table per subspace (query "
    "sub-vector to every centroid, k x M entries), and every corpus "
    "vector's approximate distance is then a SUM OF M TABLE LOOKUPS "
    "on its codes -- no full-vector math against the corpus at all, "
    "which is the entire reason billion-vector ANN serves from PQ "
    "codes. Joins are code-to-LUT equi-joins (the LUT side is k-row "
    "broadcast-scale); the per-(query, vector) reduce is one hash "
    "aggregate. Distances surface log-scaled (engine-stable at any "
    "magnitude) and rank with a vec_id tiebreak, so duplicate vectors "
    "order deterministically. Oracle: the twin codebook CTE chains "
    "plus the same LUT algebra.",
)
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_detail_topk(spark, sf_dir)


def pq_adc_detail_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_MEANS_K,
    n_queries: int = N_QUERIES,
    with_distortion: bool = False,
    n_subspaces: int = 2,
):
    """PQ ADC serving (the registered query's whole body). ``k`` (codes
    per subspace codebook) and ``n_queries`` default to the registered
    constants, so q_ann_pq_adc_topk's plan is unchanged; the ANN recall
    audit (``scripts/recall_audit.py ann``) sweeps codebook size through
    THIS path so the recall-vs-distortion curve measures the production
    dataflow verbatim.

    ``with_distortion=True`` additionally returns the per-(vector,
    subspace) quantization error frame ``(vec_id, sub, dist)`` from the
    SAME trained codebooks — the audit pairs each measured recall with
    the distortion that produced it.

    ``n_subspaces`` generalizes the split M-ways (equal dim ranges,
    one codebook per range — per-vector memory M*log2(k) bits, LUT
    cost M*k per query, the FAISS IVF-PQ layout). The M=2 default is
    the registered/oracled instance (two-CTE-chain oracle complexity
    caps the demo at 2); the audit measures how recall recovers with M
    at fixed k — the knob a 100 TB deployment actually turns, since
    distortion falls with subspace dimensionality."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    half = embedding_dim(spark, sf_dir) // 2
    dims = (
        emb.select("vec_id", F.posexplode("e").alias("dim0", "v"))
        .select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
        .localCheckpoint(eager=False)
    )
    dim = embedding_dim(spark, sf_dir)
    if n_subspaces == 2:
        # the registered instance, spelled exactly as before so the
        # oracled query's plan stays bit-identical
        splits = [(0, F.col("dim") <= half), (1, F.col("dim") > half)]
    else:
        bounds = [round(i * dim / n_subspaces) for i in range(n_subspaces + 1)]
        splits = [
            (s, (F.col("dim") > bounds[s]) & (F.col("dim") <= bounds[s + 1]))
            for s in range(n_subspaces)
        ]
    per_sub = []
    distortions = []
    for sub, flt in splits:
        sub_dims = dims.filter(flt)
        assign, cent = _kmeans_assign_dims(
            emb, sub_dims, k=k, return_centroids=True
        )
        if with_distortion:
            distortions.append(
                assign.select("vec_id", F.lit(sub).alias("sub"), "dist")
            )
        lut = (
            sub_dims.filter(F.col("vec_id") < n_queries)
            .withColumnRenamed("vec_id", "qid")
            .join(F.broadcast(cent), "dim")
            .groupBy("qid", "cid")
            .agg(F.round(F.sum((F.col("v") - F.col("c")) ** 2), 6).alias("d"))
        )
        per_sub.append(
            assign.select("vec_id", "cid").join(lut, "cid").select(
                "qid", "vec_id", "d"
            )
        )
    from functools import reduce

    adc = (
        reduce(lambda a, b: a.unionByName(b), per_sub)
        .groupBy("qid", "vec_id")
        .agg(F.round(F.log1p(F.sum("d")), 6).alias("ln_adc"))
        .filter(F.col("vec_id") != F.col("qid"))
    )
    w = W.partitionBy("qid").orderBy("ln_adc", "vec_id")
    topk = (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"), "vec_id", "ln_adc"
        )
        .orderBy("query_id", "ln_adc", "vec_id")
    )
    if with_distortion:
        return topk, reduce(lambda a, b: a.unionByName(b), distortions)
    return topk
