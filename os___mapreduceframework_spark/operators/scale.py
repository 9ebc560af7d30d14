"""Scale-pattern operators: skew-salted aggregation, the SQL entry
surface, and IVF approximate-nearest-neighbor search.

These exist to demonstrate, as first-class tested queries, the three
patterns the 100 TB charter leans on hardest:

- **salting**: a hot key (Zipf token, boilerplate doc, null-heavy join
  key) overwhelms one reducer. Two-phase aggregation over a
  deterministic salt spreads the hot key across ``N_SALT`` partial
  groups, then merges -- the classic skew rewrite AQE can't always do
  for you (AQE splits skewed *partitions*, not skewed *groups* inside
  an aggregation). The ADAPTIVE variant first sketches key frequencies
  on a hash-sample and salts only the Zipf head, with fan-out
  proportional to each key's estimated count -- no shuffle-key
  inflation on the cold tail (``salted_token_count_adaptive``).
- **SQL interface**: every DataFrame query in this engine is equally
  expressible through ``spark.sql`` over registered fixture views --
  same Catalyst plan, same oracle. One registered query proves the
  path end-to-end.
- **IVF ANN**: the inverted-file index (k-means coarse quantizer +
  probe-nearest-cells) -- the standard scale path for similarity
  search when LSH recall disappoints. Train k centroids (tiny,
  driver-held, broadcast back), assign each corpus vector to its cell
  (linear, one pass), and each query scores only ``N_PROBE`` cells.
  Training is sampled + seeded; not SQL-expressible, so the registered
  queries carry an in-plan audit contract (structural flags + recall
  vs exact brute force, DuckDB-oracled as counts + TRUE flags) and the
  serving outputs stay unit-tested (tests/test_scale.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from os___mapreduceframework_spark.operators.minhash import _cosine
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import load_table, register_views

N_SALT = 8
# adaptive salting: sketch keeps 1/ADAPT_SAMPLE_DENOM of rows; a key
# whose estimated count exceeds ADAPT_TARGET gets fan-out
# ceil(est/ADAPT_TARGET) capped at ADAPT_MAX_SALT; everything else
# stays unsalted (fan-out 1)
ADAPT_SAMPLE_DENOM = 8
ADAPT_TARGET = 200
ADAPT_MAX_SALT = 32
IVF_K = 8  # coarse-quantizer cells
IVF_PROBE = 2  # cells scored per query
IVF_TOP_K = 10
N_QUERIES = 5


@query(
    "salted_token_count",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
    doc="Two-phase skew-salted aggregation: count per (token, salt) "
    "first (hot tokens spread over 8 partial groups, map-side combine "
    "still applies), then merge partials per token. Result is "
    "identical to the direct group-by -- the oracle IS the unsalted "
    "formulation -- but no single reducer ever owns a hot token's "
    "full stream. The rewrite for Zipf-distributed keys at 100 TB.",
)
def q_salted_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # deterministic salt from doc_id: same token lands on up to N_SALT
    # distinct partial groups
    partial = (
        toks.withColumn("salt", (F.col("doc_id") % N_SALT).cast("int"))
        .groupBy("tok", "salt")
        .agg(F.count(F.lit(1)).alias("pn"))
    )
    return (
        partial.groupBy("tok")
        .agg(F.sum("pn").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


def hot_key_fanout(
    rows: DataFrame,
    key: str,
    sample_denom: int = ADAPT_SAMPLE_DENOM,
    target: int = ADAPT_TARGET,
    max_salt: int = ADAPT_MAX_SALT,
) -> DataFrame:
    """Frequency sketch -> per-key salt fan-out, hot keys only.

    One pass over a deterministic 1/sample_denom hash-sample (xxhash64
    of the key row -- scan-stable, no RNG) counts keys; a key whose
    scaled estimate exceeds ``target`` rows-per-reducer gets fan-out
    ``ceil(est / target)`` capped at ``max_salt``. The result has HOT
    cardinality (Zipf head only -- tiny even at 100 TB, where the
    sketch pass reads a fixed sample fraction), so it broadcasts.
    """
    sample = rows.filter(
        F.pmod(F.xxhash64(*rows.columns), F.lit(sample_denom)) == 0
    )
    return (
        sample.groupBy(key)
        .agg((F.count(F.lit(1)) * sample_denom).alias("est_n"))
        .filter(F.col("est_n") > target)
        .select(
            key,
            F.least(
                F.lit(max_salt), F.ceil(F.col("est_n") / target)
            )
            .cast("int")
            .alias("fanout"),
        )
    )


@query(
    "salted_token_count_adaptive",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
    doc="Frequency-ADAPTIVE skew salting: a sketch pass over a "
    "deterministic 1/8 hash-sample estimates per-token counts; only "
    "tokens past the rows-per-reducer target get salted, with fan-out "
    "proportional to their estimated frequency (ceil(est/target), "
    "capped). The hot-key->fanout map is Zipf-head-sized and "
    "broadcast; cold keys skip salting entirely, so the fixed-N_SALT "
    "variant's shuffle-key inflation on the long tail disappears. "
    "Result identical to the direct group-by (the oracle IS the "
    "unsalted SQL). This is the self-tuning form of "
    "salted_token_count for 100 TB Zipf keys.",
)
def q_salted_token_count_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    hot = hot_key_fanout(toks, "tok")
    salted = (
        toks.join(F.broadcast(hot), "tok", "left")
        # cold keys (no sketch entry) keep fan-out 1 -> salt 0, so the
        # partial agg adds zero extra groups for the long tail
        .withColumn(
            "salt",
            F.pmod(F.xxhash64("doc_id"), F.coalesce("fanout", F.lit(1))).cast(
                "int"
            ),
        )
    )
    partial = salted.groupBy("tok", "salt").agg(F.count(F.lit(1)).alias("pn"))
    return (
        partial.groupBy("tok")
        .agg(F.sum("pn").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


@query(
    "sql_interface_revenue",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="The spark.sql entry path: fixture tables registered as temp "
    "views, query text handed to Catalyst directly. Same optimized "
    "plan as the DataFrame formulation -- proves the engine's SQL "
    "surface end-to-end.",
)
def q_sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE)
                 AS revenue
        FROM lineitem
        WHERE l_quantity >= 30
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


def ivf_index(
    emb: DataFrame, k: int = IVF_K, seed: int = 42, train: DataFrame | None = None
):
    """(assignments, centroids): k-means coarse quantizer.

    Training runs via pyspark.ml KMeans (seeded) on ``train`` when
    given, else the full corpus; ASSIGNMENT always covers the full
    corpus in one linear pass. The k centroid vectors are driver-held
    (k * dim floats -- tiny) and re-broadcast for assignment/probing.
    At 100 TB you train on a sample and assign everything -- exactly
    the ``train=`` dataflow (ann_ivf_sampled_topk).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def to_vec(df: DataFrame) -> DataFrame:
        # NULL/empty vectors carry no geometry: excluded from training
        # AND assignment (the oracle's unnest skips them identically);
        # array_to_vector on NULL otherwise kills the whole fit job
        return df.filter(
            F.col("e").isNotNull() & (F.size("e") > 0)
        ).select("vec_id", array_to_vector("e").alias("features"))

    vecs = to_vec(emb)
    train_vecs = to_vec(train) if train is not None else vecs
    # planning-time cardinality (one scalar, like AQE's stats probe):
    # MLlib's block-mode KMeans hard-crashes (ArrayIndexOutOfBounds)
    # when k exceeds the training-point count, so a tiny or degenerate
    # corpus must clamp k -- an IVF index over fewer points than cells
    # degrades to fewer cells, bottoming out at brute force with 1
    n_train = train_vecs.count()
    if n_train == 0 and train is not None:
        # the sample missed every vector: train on the corpus itself
        train_vecs = vecs
        n_train = vecs.count()
    if n_train < 2:
        # MLlib also rejects k=1 outright: a 0/1-point corpus is a
        # single-cell (or empty) index built without a fit at all
        from pyspark.ml.functions import vector_to_array

        return (
            vecs.select("vec_id", F.lit(0).cast("int").alias("cell")),
            train_vecs.select(
                F.lit(0).cast("int").alias("cell"),
                vector_to_array("features").cast("array<double>").alias("centroid"),
            ),
        )
    model = KMeans(k=min(k, n_train), seed=seed, maxIter=10).fit(train_vecs)
    assignments = model.transform(vecs).select(
        "vec_id", F.col("prediction").alias("cell")
    )
    spark = emb.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        schema="cell int, centroid array<double>",
    )
    return assignments, centroids


IVF_RECALL_FLOOR = 0.05  # honest bound: uniform fixtures are the ANN worst case


def ivf_detail_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF serving output (query_id, vec_id, cos_sim) -- the
    operator users actually call; the registered query wraps it in the
    oracle-checkable audit contract."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    assignments, centroids = ivf_index(emb)
    return ivf_topk(emb, assignments, centroids)


def _ivf_audit(spark: SparkSession, sf_dir: str, detail: DataFrame) -> DataFrame:
    """Audit contract for approximate top-k: structural flags (<=k rows
    per query, no self-matches) plus overall recall vs the exact
    brute-force top-k, all computed in-plan so a DuckDB oracle can
    hash-match (counts + TRUE flags). Everything after the two top-k
    frames is single-row aggregates cross-joined (broadcast, bounded)."""
    from os___mapreduceframework_spark.operators.similarity import (
        q_ann_bruteforce_topk,
    )

    exact = q_ann_bruteforce_topk(spark, sf_dir).select("query_id", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    nq = emb.filter(F.col("vec_id") < N_QUERIES).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries")
    )
    per = detail.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max((F.col("vec_id") == F.col("query_id")).cast("int")).alias("self_hit"),
    )
    shape = per.agg(
        F.coalesce(F.max("n"), F.lit(0)).alias("max_n"),
        F.coalesce(F.max("self_hit"), F.lit(0)).alias("any_self"),
    )
    hits = detail.join(exact, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    tot = exact.agg(F.count(F.lit(1)).alias("tot"))
    return (
        nq.crossJoin(shape)
        .crossJoin(hits)
        .crossJoin(tot)
        .select(
            "n_queries",
            (F.col("max_n") <= IVF_TOP_K).alias("within_k"),
            (F.col("any_self") == 0).alias("no_self"),
            # vacuous truth when there is nothing to recall (empty or
            # single-row corpus: exact top-k is itself empty)
            F.when(F.col("tot") == 0, F.lit(True))
            .otherwise(F.col("hits") / F.col("tot") >= IVF_RECALL_FLOOR)
            .alias("recall_ok"),
        )
    )


_IVF_AUDIT_ORACLE = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS within_k, TRUE AS no_self, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """


@query(
    "ann_ivf_topk",
    oracle=_IVF_AUDIT_ORACLE,
    doc="IVF ANN: corpus bucketed into IVF_K k-means cells (one linear "
    "assignment pass), each query scores only its IVF_PROBE nearest "
    "cells -- candidate set shrinks k/nprobe-fold vs brute force. "
    "Registered as the audit contract (structural flags + recall vs "
    "exact brute-force top-k, in-plan) because seeded k-means training "
    "isn't SQL-expressible; the serving output is ivf_detail_topk, "
    "unit-tested in tests/test_scale.py.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_audit(spark, sf_dir, ivf_detail_topk(spark, sf_dir))


def ivf_topk(
    emb: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    n_queries: int = N_QUERIES,
    nprobe: int = IVF_PROBE,
) -> DataFrame:
    """Score each query vector against only its ``nprobe`` nearest
    cells' members (shared serving path for all IVF variants).

    ``n_queries``/``nprobe`` default to the registered queries'
    constants (plans bit-identical); the ANN recall audit
    (``scripts/recall_audit.py ann``) widens the query set and sweeps
    nprobe through THIS path, so the audited generator is the
    production serving join verbatim.

    The corpus-assignments join is fact-to-fact (assignments has corpus
    cardinality): the merge hint pins it to a shuffle join -- at small
    SF Catalyst would happily broadcast the raw embeddings scan, which
    is fatal at real scale (the fact-broadcast audit caught exactly
    this)."""
    from os___mapreduceframework_spark.operators.similarity import (
        top_k_per_query,
    )

    corpus = emb.join(assignments.hint("merge"), "vec_id")

    # each query probes its nprobe nearest centroids
    queries_df = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    wc = W.partitionBy("query_id").orderBy(F.col("cdist").desc(), F.col("cell"))
    probes = (
        queries_df.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", _cosine(F.col("qe"), F.col("centroid")))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qe", "cell")
    )

    return top_k_per_query(
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_cosine(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        ),
        IVF_TOP_K,
    )


def ivf_sampled_detail_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-trained IVF serving output (see ann_ivf_sampled_topk)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    sample = emb.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin(
            *"01234567"
        )
    )
    assignments, centroids = ivf_index(emb, train=sample)
    return ivf_topk(emb, assignments, centroids)


@query(
    "ann_ivf_sampled_topk",
    oracle=_IVF_AUDIT_ORACLE,
    doc="IVF ANN with SAMPLE-trained centroids: k-means fits on a "
    "deterministic md5-prefix half of the corpus (the scan-stable "
    "sample of sample_hash_deterministic), then every vector is "
    "assigned in one linear pass and queries probe as usual. This is "
    "the 100 TB training protocol -- at a billion vectors the "
    "quantizer trains on a few million samples; centroid quality "
    "degrades gracefully (recall drift vs full-corpus training is "
    "tracked in tests/test_scale.py). Registered as the same audit "
    "contract as ann_ivf_topk; serving output is "
    "ivf_sampled_detail_topk.",
)
def q_ann_ivf_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_audit(spark, sf_dir, ivf_sampled_detail_topk(spark, sf_dir))


def salted_join_adaptive(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    sample_denom: int = ADAPT_SAMPLE_DENOM,
    target: int = ADAPT_TARGET,
    max_salt: int = ADAPT_MAX_SALT,
) -> DataFrame:
    """Sketch-driven skew join: each dim row is replicated only as many
    times as its fact key's observed heat requires.

    The same hash-sample frequency sketch as
    ``salted_token_count_adaptive`` estimates per-key fact counts; a
    key past ``target`` rows-per-reducer gets fan-out
    ``ceil(est/target)`` (capped), everything else fan-out 1. Fact rows
    scatter to ``salt in [0, fanout)`` by row hash; dim rows explode to
    exactly their key's fan-out (``sequence(0, fanout-1)``), so each
    fact row still matches its dim row exactly once and the result is
    the plain join. Versus fixed-``n_salt`` replication the dim-side
    inflation collapses from ``n_salt * |dim|`` to
    ``|dim| + sum(extra replicas over the Zipf head)`` -- at 100 TB the
    head is a few thousand keys, so the replicated dim stays
    broadcast-sized. Assumes ``dim`` has no column named ``fanout``.
    """
    hot = hot_key_fanout(fact, fact_key, sample_denom, target, max_salt)
    salted_fact = (
        fact.join(F.broadcast(hot), fact_key, "left")
        .withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(*fact.columns), F.coalesce("fanout", F.lit(1))
            ).cast("int"),
        )
        .drop("fanout")
    )
    salted_dim = (
        dim.join(
            F.broadcast(hot.withColumnRenamed(fact_key, "__hotk")),
            dim[dim_key] == F.col("__hotk"),
            "left",
        )
        .withColumn(
            "__salt",
            F.explode(
                F.sequence(
                    F.lit(0), F.coalesce(F.col("fanout"), F.lit(1)) - 1
                )
            ),
        )
        .withColumn("__salt", F.col("__salt").cast("int"))
        .drop("fanout", "__hotk")
    )
    return salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
    ).drop("__salt")


@query(
    "salted_join_adaptive_agg",
    oracle="""
    SELECT grp,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS qty
    FROM (SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
                      ELSE l_orderkey % 10000 END AS k,
                 l_quantity
          FROM lineitem) f
    JOIN (SELECT range AS dk, range % 7 AS grp FROM range(10000)) d
      ON f.k = d.dk
    GROUP BY grp
    ORDER BY grp
    """,
    doc="ADAPTIVE salted join on a deliberately Zipf-skewed fact key "
    "(one hot key holds ~90% of rows): the frequency sketch gives only "
    "the hot key a multi-way fan-out, cold keys join unreplicated. "
    "The oracle is the plain unsalted join -- the rewrite changes the "
    "shuffle shape, never the answer. This is salted_join's "
    "self-tuning form: dim inflation is proportional to observed key "
    "heat instead of a blanket n_salt factor.",
)
def q_salted_join_adaptive_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
        .otherwise(F.col("l_orderkey") % 10000)
        .alias("k"),
        "l_quantity",
    )
    dim = spark.range(0, 10000).select(
        F.col("id").alias("dk"), (F.col("id") % 7).alias("grp")
    )
    return (
        salted_join_adaptive(fact, dim, "k", "dk")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("qty"),
        )
        .orderBy("grp")
    )


HOT_BROADCAST_ROWS_MAX = 1_000_000  # est right-hot rows above which the
# hot branch switches from broadcast to salted shuffle


def hot_isolated_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    sample_denom: int = ADAPT_SAMPLE_DENOM,
    target: int = ADAPT_TARGET,
    broadcast_rows_max: int = HOT_BROADCAST_ROWS_MAX,
    n_salt: int = N_SALT,
) -> DataFrame:
    """Hot-key isolation for the HOT-HOT join (both sides large, key
    skewed): salting the whole join can't help because replicating a
    large build side ``n_salt``-fold is unaffordable. Instead, split
    the keyspace:

    - **cold keys** take the normal shuffle join -- no skew, no rewrite;
    - **hot keys** (the Zipf head, found by the same hash-sample sketch
      as ``hot_key_fanout``): the RIGHT side's hot slice is usually
      tiny (few distinct keys), so it broadcasts and the left side's
      massive hot rows are never shuffled at all. But "few keys" does
      not guarantee "few rows" -- so the same sketch, run over the
      right side, SIZE-GUARDS the broadcast: if the estimated right-hot
      row count exceeds ``broadcast_rows_max``, the hot branch falls
      back to a salted shuffle join (right-hot replicated over
      ``n_salt`` salts, left-hot scattered by row hash), which is
      bounded-memory at any scale.

    The union of the two disjoint key-ranges is exactly the plain inner
    join. At 100 TB the sketch passes read a fixed sample fraction,
    the hot keyset (a few thousand keys) broadcasts, and the guard
    decision costs one count over the right sample.
    """
    sample = left.filter(
        F.pmod(F.xxhash64(*left.columns), F.lit(sample_denom)) == 0
    )
    hot_keys = (
        sample.groupBy(left_key)
        .agg((F.count(F.lit(1)) * sample_denom).alias("est_n"))
        .filter(F.col("est_n") > target)
        .select(F.col(left_key).alias("__hotk"))
    )
    l_marked = left.join(
        F.broadcast(hot_keys),
        left[left_key] == F.col("__hotk"),
        "left",
    )
    l_hot = l_marked.filter(F.col("__hotk").isNotNull()).drop("__hotk")
    l_cold = l_marked.filter(F.col("__hotk").isNull()).drop("__hotk")
    r_marked = right.join(
        F.broadcast(hot_keys),
        right[right_key] == F.col("__hotk"),
        "left",
    )
    r_hot = r_marked.filter(F.col("__hotk").isNotNull()).drop("__hotk")
    r_cold = r_marked.filter(F.col("__hotk").isNull()).drop("__hotk")
    cold = l_cold.join(
        r_cold.hint("merge"), l_cold[left_key] == r_cold[right_key]
    )
    # size guard: estimate right-hot ROWS from the right-side sample
    # (broadcast of the key set is always fine; broadcast of the row
    # slice is only fine when the slice is bounded)
    est_r_hot_rows = (
        right.filter(F.pmod(F.xxhash64(*right.columns), F.lit(sample_denom)) == 0)
        .join(F.broadcast(hot_keys), right[right_key] == F.col("__hotk"), "semi")
        .count()
    ) * sample_denom
    if est_r_hot_rows <= broadcast_rows_max:
        hot = l_hot.join(
            F.broadcast(r_hot), l_hot[left_key] == r_hot[right_key]
        )
    else:
        # salted shuffle fallback: replicate ONLY the (hot, but too big
        # to broadcast) right slice n_salt times; scatter left-hot rows
        # by row hash so the hot key spreads over n_salt reducers
        salts = left.sparkSession.range(0, n_salt).select(
            F.col("id").cast("int").alias("__salt")
        )
        l_salted = l_hot.withColumn(
            "__salt", F.pmod(F.xxhash64(*l_hot.columns), F.lit(n_salt)).cast("int")
        )
        r_salted = r_hot.crossJoin(F.broadcast(salts))
        hot = (
            l_salted.join(
                r_salted.hint("shuffle_hash"),
                (l_salted[left_key] == r_salted[right_key])
                & (l_salted["__salt"] == r_salted["__salt"]),
            )
            .drop("__salt")
        )
    return cold.unionByName(hot)


@query(
    "hot_isolated_join_agg",
    oracle="""
    SELECT grp,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS qty
    FROM (SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
                      ELSE l_orderkey % 10000 END AS k,
                 l_quantity
          FROM lineitem) f
    JOIN (SELECT DISTINCT
                 CASE WHEN o_orderkey % 10 < 9 THEN 0
                      ELSE o_orderkey % 10000 END AS rk,
                 o_orderkey % 7 AS grp
          FROM orders
          WHERE o_orderkey % 100 IN (0, 9)) r
      ON f.k = r.rk
    GROUP BY grp
    ORDER BY grp
    """,
    doc="HOT-HOT join via hot-key isolation: both sides carry the same "
    "Zipf-skewed key (one hot key ~90% of fact rows, present on the "
    "right too), so salting would replicate a large side. The sketch "
    "finds the hot keyspace; hot rows take a broadcast join of the "
    "right-hot slice (left's hot mass never shuffles), cold keys take "
    "the normal shuffle join, and the disjoint union equals the plain "
    "join -- which is the oracle. The third skew rewrite alongside "
    "salted_token_count_adaptive and salted_join_adaptive_agg.",
)
def q_hot_isolated_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
        .otherwise(F.col("l_orderkey") % 10000)
        .alias("k"),
        "l_quantity",
    )
    orders = load_table(spark, sf_dir, "orders")
    # % 100 IN (0, 9): keeps both hot right rows (last digit 0 -> rk=0)
    # and cold right rows (last digits 09 -> rk in the long tail), so
    # both branches of the isolation rewrite carry real data. DISTINCT
    # bounds the right side's per-key multiplicity at the attribute
    # cardinality: without it the hot-hot output is |left_hot| x
    # |right_hot| -- QUADRATIC in scale factor (measured 317 s at
    # sf0.1 from an 810M-row join result) -- which no join strategy
    # can fix; any real pipeline reduces the probe side to the
    # distinct attributes it joins for. The skew (90% of left rows on
    # one key, present on the right) is untouched.
    right = (
        orders.filter((F.col("o_orderkey") % 100).isin(0, 9))
        .select(
            F.when(F.col("o_orderkey") % 10 < 9, F.lit(0))
            .otherwise(F.col("o_orderkey") % 10000)
            .alias("rk"),
            (F.col("o_orderkey") % 7).alias("grp"),
        )
        .distinct()
    )
    return (
        hot_isolated_join(fact, right, "k", "rk")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("qty"),
        )
        .orderBy("grp")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salt: int = N_SALT,
) -> DataFrame:
    """Skew-proof equi-join: replicate the (small) dim side ``n_salt``
    times and scatter each fact row to one replica.

    A hot fact key no longer lands on one reducer -- its rows spread
    over ``n_salt`` (key, salt) partitions, each joining its own dim
    replica. Cost: dim side inflated n_salt-fold (fine when dim is the
    small side -- the usual case; a hot-hot join needs hot-key
    isolation instead, see ROADMAP). Result is exactly the plain join.

    The salt comes from a hash of the fact's whole row (xxhash64 --
    JVM-side, no Python), so it is deterministic per row and uniform.
    """
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*fact.columns), F.lit(n_salt)).cast("int")
    )
    salts = fact.sparkSession.range(0, n_salt).select(
        F.col("id").cast("int").alias("__salt")
    )
    salted_dim = dim.crossJoin(F.broadcast(salts))
    return salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
    ).drop("__salt")
