"""Deduplication operators (charter extension, SURVEY.md section 7.2 M4).

Not present in the reference (its only grouping is the shuffle's
key-equality dedup, MapReduceFramework.cpp:186-193); these are the
LLM-data-pipeline operators the charter adds: exact dedup, MinHash+LSH
near-dup, SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Everything is DataFrame built-ins -- shingling is ``transform``/
``explode`` (a relational flatMap), MinHash is a group-by-min, LSH
banding turns the O(n^2) pair problem into an equi-join on band
signatures, which is the only formulation that survives 100 TB: candidate
generation shuffles each doc's ~B band rows once and joins hash-to-hash,
never comparing non-colliding pairs.

The MinHash/LSH building blocks (and their DuckDB-oracle SQL fragments)
live in operators/minhash.py so other families (streaming incremental
dedup, ANN) can reuse them without importing -- and thereby registering
-- this query family; they are re-exported here for compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from os___mapreduceframework_spark.operators.minhash import (  # noqa: F401
    BAND_SIZE,
    N_HASHES,
    _BANDS_ONLY_SQL,
    _BANDS_SQL,
    _MH_PRIME,
    _MINHASH_SQL,
    _SHINGLES_SQL,
    _capped_pairs_sql,
    _cosine,
    _cosine_prenorm,
    _minhash_wide,
    _norm,
    _shingles,
    band_signatures,
    bucket_pairs,
    lsh_candidates,
    minhash_signatures,
)
from os___mapreduceframework_spark.operators.minhash import (  # noqa: F401
    EMB_BANDS,
    EMB_N_PLANES,
    EMB_PLANES_PER_BAND,
    EMB_STRICT_THRESHOLD,
    _EMB_BANDS_SQL,
    _EMB_BANDS_STRICT_SQL,
    _EMB_WEIGHT_DIMS,
    _SQL_COS4,
    _plane_weights,
    canonical_embeddings,
    emb_strict_bands,
    embedding_band_buckets,
    embedding_scored_pairs,
)
from os___mapreduceframework_spark.queries import query
from os___mapreduceframework_spark.sources import (
    embedding_count,
    embedding_dim,
    load_table,
)

SIM_BITS = 28  # simhash width: 7 md5 hex chars
COSINE_NEAR_THRESHOLD = 0.45  # calibrated to the synthetic embedding space


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY md5(text)
    ORDER BY fp
    """,
    doc="Exact dedup: hash-groupBy on content fingerprint; keep_id = "
    "canonical survivor. One shuffle of (fp) rows; at 100 TB hash first "
    "so the exchange carries 32-byte keys, not documents.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .orderBy("fp")
    )


@query(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_MINHASH_SQL}
    SELECT doc_id, h AS hash_idx, minhash
    FROM hs
    ORDER BY doc_id, hash_idx
    """,
    doc="MinHash signatures (16 md5-family hashes over word 3-shingles).",
)
def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        minhash_signatures(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.col("h").alias("hash_idx"), "minhash")
        .orderBy("doc_id", "hash_idx")
    )


@query(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH {_BANDS_SQL}
    SELECT doc_a, doc_b FROM cand
    ORDER BY doc_a, doc_b
    """,
    doc="LSH-banded candidate pairs (4 bands x 4 rows): equi-join on band "
    "signature replaces the O(n^2) scan.",
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidates(load_table(spark, sf_dir, "documents")).orderBy("doc_a", "doc_b")


def _candidate_intersections(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, na, nb, n_common): distinct-shingle sizes and
    shared-shingle counts for LSH candidate pairs ONLY -- the shared
    verification input of the Jaccard and containment scorers (a fix to
    the intersection join applies to both)."""
    cand = lsh_candidates(docs)
    # two self-join sides + the sizes aggregate would each recompute
    # the shingle explode + distinct; materialize it once
    ds = _shingles(docs).distinct().localCheckpoint(eager=False)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = ds.alias("x"), ds.alias("y")
    # shuffle_hash on the shingle sides: the first join FANS each pair
    # out by doc_a's distinct shingles, and SMJ would sort that fanned
    # stream for the second join; the hash build is the (bounded)
    # per-partition shingle slice. Never broadcast: shingles are
    # corpus-sized. Measured 39 -> 32 s (containment) at the 30x
    # fixture -- candidate GENERATION dominates this family, so the
    # verify-side win is structural (no fanned-stream sort at any
    # scale) more than local.
    inter = (
        cand.join(x.hint("shuffle_hash"), F.col("x.doc_id") == cand.doc_a)
        .join(
            y.hint("shuffle_hash"),
            (F.col("y.doc_id") == cand.doc_b)
            & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa.hint("shuffle_hash"), F.col("sa.doc_id") == inter.doc_a)
        .join(sb.hint("shuffle_hash"), F.col("sb.doc_id") == inter.doc_b)
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n").alias("na"),
            F.col("sb.n").alias("nb"),
            "n_common",
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_BANDS_SQL},
    ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
              FROM cand c
              JOIN ds x ON x.doc_id = c.doc_a
              JOIN ds y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
              GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    ORDER BY doc_a, doc_b
    """,
    doc="Exact n-gram Jaccard, verification stage after LSH candidate "
    "generation: |A intersect B| / |A union B| over distinct word "
    "3-shingles, computed only for banded candidates.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _candidate_intersections(docs)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# CTE chain producing sim(doc_id, simhash) -- shared by the simhash
# query's oracle and the hamming-neighbor oracle below
_SIMHASH_SQL = (
    f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS hv FROM toks
    ),
    sums AS (  -- all {SIM_BITS} bit-majority sums in ONE aggregation pass
      SELECT doc_id,
    """
    + ",\n".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(SIM_BITS)
    )
    + """
      FROM th GROUP BY doc_id
    ),
    sim AS (
      SELECT doc_id,
             CAST("""
    + " + ".join(
        f"(CASE WHEN s_{b} >= 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIM_BITS)
    )
    + """ AS BIGINT) AS simhash
      FROM sums)
    """
)


def _simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over md5 token hashes,
    all SIM_BITS sums as parallel aggregates in one pass."""
    th = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(tok), 1, 7), 16, 10) as bigint)").alias("hv"),
    )
    sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(hv, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"s_{b}")
            for b in range(SIM_BITS)
        ]
    )
    simhash = None
    for b in range(SIM_BITS):
        term = F.when(F.col(f"s_{b}") >= 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.alias("simhash"))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_SQL}
    SELECT doc_id, simhash FROM sim ORDER BY doc_id
    """,
    doc="SimHash (28-bit, md5-derived token hashes): per-bit majority "
    "vote over token hashes; near-dups then differ in few bits. All 28 "
    "bit sums are parallel aggregates in ONE pass over the token rows "
    "(no 28x bit expansion, no per-doc token dedup stage): the single "
    "exchange carries docs x 1 wide partial-agg rows -- at 100 TB the "
    "shuffle volume is doc-count-bound, not token-count-bound.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_df(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# pigeonhole banding for EXACT hamming range search: any pair at
# distance <= HAM_K differs in <= HAM_K of the HAM_BANDS bands, so with
# HAM_BANDS = HAM_K + 1 at least one band is bit-identical -- band
# equi-join candidates have recall 1 (up to the hot-bucket cap), unlike
# probabilistic MinHash/hyperplane banding
HAM_K = 3
HAM_BANDS = HAM_K + 1
HAM_BAND_BITS = SIM_BITS // HAM_BANDS  # 28 / 4 = 7
_HAM_MASK = (1 << HAM_BAND_BITS) - 1


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {_SIMHASH_SQL},
    bands AS (
      SELECT doc_id, b.band,
             (simhash >> (band * {HAM_BAND_BITS})) & {_HAM_MASK} AS bval
      FROM sim, (SELECT unnest(range({HAM_BANDS})) AS band) b
    ),
    {_capped_pairs_sql("bands", "doc_id", ("band", "bval"), ("doc_a", "doc_b"), "hcand")}
    SELECT c.doc_a, c.doc_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM hcand c
    JOIN sim x ON x.doc_id = c.doc_a
    JOIN sim y ON y.doc_id = c.doc_b
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAM_K}
    ORDER BY doc_a, doc_b
    """,
    doc=f"EXACT SimHash neighbor pairs within Hamming distance {HAM_K}, "
    f"via pigeonhole banding: the {SIM_BITS}-bit simhash splits into "
    f"{HAM_BANDS} bands of {HAM_BAND_BITS} bits; a pair at distance "
    f"<= {HAM_K} can corrupt at most {HAM_K} bands, so at least one "
    "band matches exactly and the band equi-join (bucketed, hot-bucket "
    "capped, never all-pairs) is a recall-1 candidate generator -- the "
    "guaranteed-exact complement to the probabilistic MinHash/"
    "hyperplane banding. Verification is one bit_count(xor) per "
    "candidate. At 100 TB: band rows are corpus x 4, candidates are "
    "collision-bound, and the verify join is candidate-sized.",
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 8-byte simhash RIDES the band rows (bucket_pairs carry=) so
    # verification is a scan-local bit_count(xor) on the pair row --
    # the r8 form joined the candidate list back to the corpus-sized
    # simhash table TWICE (two shuffle-hash joins + four exchanges)
    # to fetch what the band rows already knew. Same pair set, same
    # hamming values; at 100 TB the band-row widening is corpus x 4 x
    # 8 bytes while the eliminated joins re-shuffled the candidate set
    # AND the corpus signature table.
    sim = _simhash_df(load_table(spark, sf_dir, "documents"))
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(HAM_BANDS)])).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.expr(
            f"shiftright(simhash, band * {HAM_BAND_BITS}) & {_HAM_MASK}"
        ).alias("bval"),
        "simhash",
    )
    cand = bucket_pairs(bands, "doc_id", ("band", "bval"), carry=("simhash",))
    return (
        cand.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAM_K)
        .orderBy("doc_a", "doc_b")
    )


def embedding_near_exact(emb: DataFrame, threshold: float) -> DataFrame:
    """EXACT all-pairs near-dup pairs -- the O(n^2) verification form.

    Deliberately NOT a registered query: a user-facing operator must
    never be quadratic in the corpus. Tests use this as the recall
    oracle for the banded query (tests/test_pipeline_ops.py).
    """
    a, b = emb.alias("a"), emb.alias("b")
    cos = F.round(_cosine(F.col("a.e"), F.col("b.e")), 4)
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


@query(
    "dedup_embedding_near",
    oracle=f"""
    WITH {_EMB_BANDS_SQL}
    SELECT c.vec_a, c.vec_b,
           {_SQL_COS4} AS cos_sim
    FROM ecand c
    JOIN cemb a ON a.vec_id = c.vec_a
    JOIN cemb b ON b.vec_id = c.vec_b
    WHERE {_SQL_COS4}
          >= {COSINE_NEAR_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-dup pairs via banded hyperplane LSH: "
    "candidates are pairs sharing >=1 of 32 six-bit band buckets "
    "(bucketed equi-join -- never all-pairs), then exact cosine "
    "verification on candidates only. Approximate by design (recall "
    ">=93% at the fixture's hard 0.45 threshold, measured against the "
    "exact form in tests); the oracle mirrors the same banding, so "
    "parity is exact. The scale path for 100 TB corpora where "
    "quadratic comparison is impossible.",
)
def _embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cos_sim) >= COSINE_NEAR_THRESHOLD, UNSORTED -- the
    registered dedup_embedding_near query itself (no output orderBy: the
    driver's compare is order-insensitive) and the shared detect stage
    of dedup_embedding_clusters (whose CC consumes the edge
    set order-free; feeding it the sorted form paid a range-partition
    exchange + sort for rows the union/distinct immediately re-hashed).
    """
    # canonical vector per id (duplicate-replay contract; cemb twin).
    # r10: the scored-pairs pipeline consumes emb exactly ONCE (the
    # banding pass carries the vectors), so the r9 multi-consumer
    # localCheckpoint became a pure materialization tax and is gone
    emb = canonical_embeddings(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    # candidates + exact cosine in ONE pass: vectors ride the band rows
    # and the bucket groups emit narrow (id, id, cs) rows directly
    # (embedding_scored_pairs) -- the r6 verify composition shuffled the
    # second corpus join's input with the first side's vector attached,
    # ~pairs x 550 B, which DNF'd this box's disk at the 600k-vector
    # fixture; pair set and cosine values are bit-identical
    scored = embedding_scored_pairs(
        emb,
        dim=embedding_dim(spark, sf_dir),
        n_vectors=embedding_count(spark, sf_dir),
        # threshold pushed below the pair de-dup (equal-cs invariant:
        # bit-identical output; the de-dup exchange carries survivors
        # only -- the 2M-vector completes-on-one-box fix)
        min_cs=COSINE_NEAR_THRESHOLD,
    )
    return scored.select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.col("cs").alias("cos_sim"),
    ).filter(F.col("cos_sim") >= COSINE_NEAR_THRESHOLD)


# audit floor of the strict detector's output: scored candidates below
# the production threshold but above this floor are REPORTED (flagged
# false), because (a) real curation runs audit the just-under-threshold
# band before committing a delete set, and (b) the synthetic fixture
# space tops out near cos 0.6, so the floor is what keeps the driver's
# oracle row exercising the strict band table with real values instead
# of comparing empty sets (planted >= 0.9 pairs are covered by
# tests/test_round7_props.py::test_strict_near_dup_detects_planted_pairs)
EMB_STRICT_REPORT_FLOOR = 0.30


@query(
    "dedup_embedding_near_strict",
    oracle=f"""
    WITH {_EMB_BANDS_STRICT_SQL}
    SELECT vec_a, vec_b, cos_sim,
           CASE WHEN cos_sim >= {EMB_STRICT_THRESHOLD} THEN 1 ELSE 0 END
             AS is_near_dup
    FROM (
      SELECT c.vec_a, c.vec_b,
             {_SQL_COS4} AS cos_sim
      FROM ecand c
      JOIN cemb a ON a.vec_id = c.vec_a
      JOIN cemb b ON b.vec_id = c.vec_b
    )
    WHERE cos_sim >= {EMB_STRICT_REPORT_FLOOR}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding near-dup detection at the PRODUCTION threshold (cos "
    ">= 0.90, the SemDeDup regime) with threshold-tuned banding: the "
    "same adaptive bit widths as dedup_embedding_near, but the band "
    "count comes from the strict pinned table (minimal L holding >= "
    "95% collision probability AT 0.90 -- 6 bands at fixture scale vs "
    "the calibration family's 32, 35 vs 182 at 2M vectors), because a "
    "higher threshold means a higher per-bit agreement probability and "
    "therefore far fewer bands for the same recall. This is the knob "
    "that makes web-scale semantic dedup tractable: ~10x fewer "
    "candidates at 2M vectors than the 0.45 calibration banding. "
    "Output: strict-banded scored candidates at or above the audit "
    "floor with the production-threshold flag -- the floor keeps the "
    "just-under-threshold audit band visible (and the fixture-scale "
    "oracle row non-vacuous); planted >= 0.9 pairs are pinned by a "
    "property test. The oracle mirrors the strict band table over the "
    "same plane pool and decode.",
)
def q_dedup_embedding_near_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single consumer since r10 (banding carries the vectors): no
    # localCheckpoint -- see _embedding_near_pairs
    emb = canonical_embeddings(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    n = embedding_count(spark, sf_dir)
    scored = embedding_scored_pairs(
        emb,
        dim=embedding_dim(spark, sf_dir),
        n_vectors=n,
        nbands=emb_strict_bands(n),
        # audit floor pushed below the pair de-dup (equal-cs invariant:
        # bit-identical; survivors-only de-dup exchange)
        min_cs=EMB_STRICT_REPORT_FLOOR,
    )
    return (
        scored.select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.col("cs").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= EMB_STRICT_REPORT_FLOOR)
        .withColumn(
            "is_near_dup",
            F.when(F.col("cos_sim") >= EMB_STRICT_THRESHOLD, 1).otherwise(0),
        )
        .orderBy("vec_a", "vec_b")
    )
# Above this many (symmetric, deduped) edges the CC runs distributed;
# at or below it the edge list is provably driver-sized and an exact
# union-find beats 4-6 rounds of joins+checkpoints+convergence counts.
# 1M pairs of longs ~= 16 MB -- comfortably bounded driver state.
CC_DRIVER_MAX_EDGES = 1_000_000


def _union_find_min_labels(pairs) -> dict:
    """Exact min-label union-find over (a, b) pairs: merging always
    roots the smaller id, so find(x) IS the component's min node id --
    the same labeling the distributed loop and the recursive-CTE
    oracles converge to."""
    parent: dict = {}
    nodes: set = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in nodes}


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(doc_id, cluster_id): connected components of the candidate-pair
    graph, size-gated hybrid.

    The verified near-dup graph is orders of magnitude smaller than the
    corpus (banding + verification already shrank it), so first the
    symmetric edge list is materialized once (``localCheckpoint`` --
    without it every iteration would re-execute the whole upstream
    LSH + verification pipeline) and counted. At or under
    ``CC_DRIVER_MAX_EDGES`` (bounded driver state by construction) an
    exact union-find labels it in one pass -- this is metadata-sized
    work, like the merge sinks' manifest collects (measured 19.1 s ->
    4.4 s on the sf0.1 embedding-clusters bench entry, checkpoint and
    gate together). Above the gate, the
    100 TB path: iterative min-label propagation with POINTER JUMPING
    (label-of-label relabel halves chain depth per round, so
    convergence is O(log diameter)), one join + one aggregate per
    round, ``localCheckpoint`` truncating lineage (THE
    iterative-algorithm hazard on Spark; GraphFrames runs the same
    dataflow).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if sym.count() <= driver_max_edges:
        import pandas as pd
        from pyspark.sql import types as T

        # one Arrow transfer of the (gate-bounded, <= 16 MB) edge list:
        # toLocalIterator streamed row objects through py4j one at a
        # time, paying per-row deserialization on the driver
        edges_pdf = sym.toPandas()
        # Arrow->pandas silently widens a nullable integer column to
        # float64 (NaN for NULL), which would feed floats into the
        # union-find and corrupt labels (ADVICE r9). Candidate edges
        # are non-null by construction; assert it rather than relabel
        # garbage if that ever changes.
        for col in ("a", "b"):
            if edges_pdf[col].dtype.kind == "f":
                raise TypeError(
                    f"connected_components: edge column {col!r} arrived "
                    f"as {edges_pdf[col].dtype} (NULL ids in the edge "
                    "list?); union-find needs exact integer node ids"
                )
        labels = _union_find_min_labels(
            zip(edges_pdf["a"].tolist(), edges_pdf["b"].tolist())
        )
        node_type = sym.schema["a"].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", node_type, False),
                T.StructField("cluster_id", node_type, False),
            ]
        )
        spark = sym.sparkSession
        if not labels:
            return spark.createDataFrame([], schema)
        nodes = sorted(labels)
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": nodes, "cluster_id": [labels[n] for n in nodes]}),
            schema,
        )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(
            neighbor_min, labels["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                "lbl"
            ),
        )
        # pointer jumping: relabel through the label's OWN label, so a
        # chain's depth halves every iteration -- neighbor-min alone
        # moves labels one hop per iteration and silently mislabels any
        # component whose diameter exceeds max_iter
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
        )
        new_labels = (
            stepped.join(parent, stepped["lbl"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("p_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds 2^iterations under "
            "pointer jumping); raise max_iter -- returning partial "
            "labels would silently split clusters"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


@query(
    "dedup_clusters",
    oracle=f"""
    WITH {_BANDS_SQL},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    r AS (
      WITH RECURSIVE reach(s, t) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT reach.s, e.b FROM reach JOIN edges e ON reach.t = e.a
      )
      SELECT s, t FROM reach
    )
    SELECT s AS doc_id, MIN(t) AS cluster_id, MIN(t) = s AS is_keeper
    FROM r GROUP BY s
    ORDER BY doc_id
    """,
    doc="Near-dup clustering: LSH candidate pairs -> connected "
    "components (iterative min-label propagation, localCheckpoint per "
    "iteration) -> cluster id + keeper flag (min doc_id survives). The "
    "final stage of the dedup pipeline: what a 100 TB curation job "
    "actually deletes with. Oracle: DuckDB recursive-CTE transitive "
    "closure over the same candidate graph.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = lsh_candidates(load_table(spark, sf_dir, "documents"))
    cc = connected_components(cand)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_keeper"),
    ).orderBy("doc_id")


CONTAINMENT_MIN = 0.9


@query(
    "dedup_containment",
    oracle=f"""
    WITH {{bands}},
    ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
              FROM cand c
              JOIN ds x ON x.doc_id = c.doc_a
              JOIN ds y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
              GROUP BY c.doc_a, c.doc_b),
    scored AS (
      SELECT i.doc_a, i.doc_b, sa.n AS na, sb.n AS nb,
             ROUND(n_common / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6)
               AS containment
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT doc_a, doc_b,
           CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc,
           containment
    FROM scored
    WHERE containment >= {CONTAINMENT_MIN}
    ORDER BY doc_a, doc_b
    """.format(bands=_BANDS_SQL),
    doc="Shingle-set CONTAINMENT (|A∩B| / min(|A|,|B|)) on LSH-banded "
    "candidates: catches sub-document duplication -- a short document "
    "quoted inside a longer one scores near 1.0 here but low on "
    "symmetric Jaccard, which dilutes by the union. Same "
    "candidates-only cost model as the Jaccard verify; the smaller "
    "side is reported as the contained (droppable) document.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = _candidate_intersections(docs).select(
        "doc_a",
        "doc_b",
        "na",
        "nb",
        F.round(
            F.col("n_common") / F.least(F.col("na"), F.col("nb")).cast("double"),
            6,
        ).alias("containment"),
    )
    return (
        scored.filter(F.col("containment") >= CONTAINMENT_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            "containment",
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_keep_canonical",
    oracle=f"""
    WITH {_BANDS_SQL},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    r AS (
      WITH RECURSIVE reach(s, t) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT reach.s, e.b FROM reach JOIN edges e ON reach.t = e.a
      )
      SELECT s, t FROM reach
    ),
    memb AS (SELECT s AS doc_id, MIN(t) AS cluster_id FROM r GROUP BY s),
    j AS (SELECT m.cluster_id, m.doc_id, d.n_chars
          FROM memb m JOIN documents d USING (doc_id)),
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM j
    )
    SELECT cluster_id, doc_id AS canonical_doc, n_chars AS canonical_chars,
           n_members, n_members - 1 AS n_removed
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
    doc="Canonical-representative selection: the step after clustering "
    "that a curation pipeline actually ships -- per near-dup cluster, "
    "keep the RICHEST member (max n_chars, ties to min doc_id) rather "
    "than an arbitrary id, and account for what gets dropped. One "
    "max_by aggregate per cluster over the membership join: no "
    "per-cluster sort, no window over the corpus -- state is one row "
    "per cluster however large the cluster (the boilerplate-cluster "
    "hazard at 100 TB). Oracle: DuckDB recursive-CTE components + "
    "ROW_NUMBER argmax.",
)
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cc = connected_components(lsh_candidates(docs))
    # merge-hint the documents side: it is a raw fact projection whose
    # small-SF stats would otherwise get broadcast (the audited trap);
    # the cluster-membership side can be corpus-scale too
    memb = cc.join(docs.select("doc_id", "n_chars").hint("merge"), "doc_id")
    # max_by on a (n_chars, -doc_id) struct: lexicographic struct order
    # gives max length with min-doc_id tie-break in ONE aggregate pass
    best = F.max_by(
        F.struct(F.col("doc_id"), F.col("n_chars")),
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        memb.groupBy("cluster_id")
        .agg(
            best.alias("best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("best.doc_id").alias("canonical_doc"),
            F.col("best.n_chars").alias("canonical_chars"),
            "n_members",
            (F.col("n_members") - 1).alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


BLOCK_WORDS = 10  # pseudo-paragraph size (the corpus has no newlines)
BOILERPLATE_MAX_FRAC = 0.3


def boilerplate_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_blocks, n_dup_blocks): per-doc counts of fixed-size
    word blocks and how many of them appear in MORE THAN ONE document
    corpus-wide. Block-hash aggregate + hash-to-hash join back + per-doc
    aggregate -- three shuffles on uniform md5 keys, no broadcast of
    corpus-scale state. Docs shorter than BLOCK_WORDS have no blocks
    (absent from the result; join side decides the default)."""
    blocks = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= BLOCK_WORDS)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int(floor(size(w) / {BLOCK_WORDS})) - 1),"
                    f" b -> md5(array_join(slice(w, b * {BLOCK_WORDS} + 1,"
                    f" {BLOCK_WORDS}), ' ')))"
                )
            ).alias("bh"),
        )
    )
    cnt = blocks.groupBy("bh").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        blocks.join(cnt, "bh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("n_dup_blocks"),
        )
    )


# SQL twin of boilerplate_stats: reads a t(doc_id, w) CTE and ends in
# bstat(doc_id, n_blocks, n_dup_blocks)
_BOILERPLATE_CTES = f"""
    blocks AS (
      SELECT doc_id,
             md5(array_to_string(
               w[CAST(b * {BLOCK_WORDS} + 1 AS INT)
                 :CAST(b * {BLOCK_WORDS} + {BLOCK_WORDS} AS INT)], ' ')) AS bh
      FROM t, unnest(range(0, CAST(FLOOR(len(w) / {BLOCK_WORDS}) AS BIGINT)))
                AS u(b)
      WHERE len(w) >= {BLOCK_WORDS}
    ),
    bcnt AS (SELECT bh, COUNT(DISTINCT doc_id) AS nd FROM blocks GROUP BY bh),
    bstat AS (
      SELECT b.doc_id,
             COUNT(*) AS n_blocks,
             COUNT(*) FILTER (c.nd > 1) AS n_dup_blocks
      FROM blocks b JOIN bcnt c USING (bh)
      GROUP BY b.doc_id
    )
"""


@query(
    "dedup_boilerplate_blocks",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    {_BOILERPLATE_CTES}
    SELECT doc_id, n_blocks, n_dup_blocks,
           ROUND(n_dup_blocks / CAST(n_blocks AS DOUBLE), 6)
             AS boilerplate_frac,
           n_dup_blocks / CAST(n_blocks AS DOUBLE) <= {BOILERPLATE_MAX_FRAC}
             AS passes_boilerplate
    FROM bstat
    ORDER BY doc_id
    """,
    doc="CROSS-corpus boilerplate removal (the C4/RefinedWeb 'drop "
    "repeated paragraphs' step, distinct from the within-doc "
    f"repetition gate): split each doc into fixed {BLOCK_WORDS}-word "
    "blocks (the corpus has no newline structure), hash each block, "
    "count DISTINCT docs per block hash corpus-wide, and flag docs "
    "whose shared-block fraction exceeds the budget. Three shuffles "
    "regardless of volume: block-hash aggregate, hash-to-hash join "
    "back (never a broadcast of corpus-scale state), per-doc "
    "aggregate. Block hashes are md5 so the oracle computes identical "
    "buckets.",
)
def q_dedup_boilerplate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = boilerplate_stats(load_table(spark, sf_dir, "documents"))
    frac = F.col("n_dup_blocks") / F.col("n_blocks").cast("double")
    return per_doc.select(
        "doc_id",
        "n_blocks",
        "n_dup_blocks",
        F.round(frac, 6).alias("boilerplate_frac"),
        (frac <= BOILERPLATE_MAX_FRAC).alias("passes_boilerplate"),
    ).orderBy("doc_id")


@query(
    "dedup_embedding_clusters",
    oracle=f"""
    WITH {_EMB_BANDS_SQL},
    near AS (
      SELECT c.vec_a, c.vec_b
      FROM ecand c
      JOIN cemb a ON a.vec_id = c.vec_a
      JOIN cemb b ON b.vec_id = c.vec_b
      WHERE {_SQL_COS4}
            >= {COSINE_NEAR_THRESHOLD}
    ),
    edges AS (SELECT vec_a AS a, vec_b AS b FROM near
              UNION SELECT vec_b, vec_a FROM near),
    nodes AS (SELECT DISTINCT a AS vec_id FROM edges),
    r AS (
      WITH RECURSIVE reach(s, t) AS (
        SELECT vec_id, vec_id FROM nodes
        UNION
        SELECT reach.s, e.b FROM reach JOIN edges e ON reach.t = e.a
      )
      SELECT s, t FROM reach
    )
    SELECT s AS vec_id, MIN(t) AS cluster_id, MIN(t) = s AS is_keeper
    FROM r GROUP BY s
    ORDER BY vec_id
    """,
    doc="SEMANTIC near-dup clustering (the embedding-space sibling of "
    "the MinHash dedup_clusters): banded hyperplane LSH candidates -> "
    "exact cosine verification -> connected components (iterative "
    "min-label propagation with localCheckpoint lineage truncation) -> "
    "cluster id + keeper flag. What a semantic-dedup pass deletes "
    "with at 100 TB: every stage is bucketed/banded, the iterative CC "
    "runs on the (sparse) verified-pair graph only. Oracle: DuckDB "
    "recursive-CTE transitive closure over the identical verified "
    "pairs.",
)
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the UNSORTED near-pair builder: CC consumes the edge set
    # order-free, so the registered near query's output orderBy would
    # be a pure range-exchange + sort tax here (same pairs either way)
    near = _embedding_near_pairs(spark, sf_dir).select("vec_a", "vec_b")
    cc = connected_components(near, src="vec_a", dst="vec_b")
    return cc.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id"),
        (F.col("cluster_id") == F.col("doc_id")).alias("is_keeper"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Span-level exact-substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": remove every token span
# whose W-token windows all occur more than once in the corpus).
# ---------------------------------------------------------------------------

SPAN_W = 20  # window width in tokens (the paper uses 50; the synthetic
             # corpus' docs run 10-99 tokens, so 20 keeps coverage)


def _span_window_hashes(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, start, h): every ``w``-token sliding window's md5 as a
    16-BYTE DIGEST, the shared detect-stage input of the span-dedup
    family. Scan-local; positions are 1-based.

    ROUND 10 (guide §4.2 + §2.3, VERDICT r9 item 8): was a JVM
    ``transform(sequence(...), i -> md5(array_join(slice(toks, i, w))))``
    explode -- each window re-joined its w tokens into a fresh string
    (~w x redundant bytes materialized per doc) and shuffled a 32-char
    hex string per window. Now a ``mapInPandas`` pass normalizes each
    doc ONCE (``' '.join(tokens)``, byte-identical to the old
    array_join input because every 0x20 byte in the joined text is a
    separator -- tokens cannot contain the split char, and UTF-8
    continuation bytes are >= 0x80), derives every window as a
    zero-copy memoryview SLICE of that one buffer, and feeds hashlib's
    C md5. The emitted key is ``digest()`` (16 bytes) instead of
    ``hexdigest()`` (32 chars): h never leaves the family's internals
    (detect group-by, keep-first rank, the streaming registry parquet),
    so halving the key halves the bytes of the family's one
    corpus-scale shuffle. Same-session interleaved A/B on the full
    exact-spans shape at sf0.1: 1.41-1.44 s -> 1.13-1.28 s min across
    two sessions; the JVM-only unhex variant and the hex-emitting
    Python variant both measured worse. Tokenization parity: Python
    ``text.split(' ')`` == Java ``split(" ", -1)`` for the literal
    one-space pattern (empty tokens, leading/trailing empties, and
    ``"" -> [""]`` all agree); NULL text -> no rows (the old
    ``size(NULL) = -1`` filter)."""
    import pandas as pd  # noqa: F401 -- worker-side import below

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        CHUNK = 200_000  # bound one yielded frame (~11 MB at 56 B/row)
        for pdf in batches:
            ids, starts, hs = [], [], []
            n_out = 0
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if text is None:
                    continue
                toks = text.split(" ")
                T = len(toks)
                if T < w:
                    continue
                s = " ".join(toks).encode("utf-8")
                sp = np.where(np.frombuffer(s, dtype=np.uint8) == 32)[0]
                off = np.empty(T + 1, dtype=np.int64)
                off[0] = 0
                off[1:T] = sp + 1
                off[T] = len(s) + 1
                nwin = T - w + 1
                md5 = hashlib.md5
                mv = memoryview(s)
                ends = off[w:] - 1
                hs.extend(
                    md5(mv[off[i]:ends[i]]).digest() for i in range(nwin)
                )
                ids.append(np.full(nwin, doc_id, dtype=np.int64))
                starts.append(np.arange(1, nwin + 1, dtype=np.int64))
                n_out += nwin
                if n_out >= CHUNK:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(ids),
                            "start": np.concatenate(starts),
                            "h": np.asarray(hs, dtype=object),
                        }
                    )
                    ids, starts, hs, n_out = [], [], [], 0
            if n_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "start": np.concatenate(starts),
                        "h": np.asarray(hs, dtype=object),
                    }
                )

    return docs.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id long, start long, h binary"
    )


def _merge_islands(hits: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, start, end) window hits into
    maximal spans per doc: (doc_id, span_start, span_end, n_windows).
    Per-doc window functions over hit rows only (a small fraction of
    the corpus), never over all windows.

    Hits are pre-aggregated to one row per (doc_id, start) carrying a
    multiplicity count BEFORE the island windows run: duplicated input
    rows (a replayed corpus duplicates every hit; keep-first emits one
    hit per surviving occurrence) would otherwise tie the ``ORDER BY
    start`` ROWS frames, and the two window passes (prev-end mark, then
    the running island sum) may order tied peers DIFFERENTLY — a
    newi=0 duplicate sorting ahead of its newi=1 twin lands in the
    preceding island (or a phantom island 0 at the doc head). Caught by
    the perturbed-config x conflicting-duplicate cross sweep; unique
    (doc_id, start) keys make both passes total orders, and n_windows
    keeps multiplicity via SUM(m)."""
    from pyspark.sql import Window

    # callers may pre-count multiplicity (keep-first's canonical vote
    # must subtract per window hash, before positions merge): sum it
    if "m" in hits.columns:
        agg = hits.groupBy("doc_id", "start", "end").agg(
            F.sum("m").alias("m")
        )
    else:
        agg = hits.groupBy("doc_id", "start", "end").agg(
            F.count(F.lit(1)).alias("m")
        )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        agg.withColumn("prev_end", F.max("end").over(w_prev))
        .withColumn(
            "newi",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("start") > F.col("prev_end") + 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("newi").over(w_run))
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.sum("m").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


def exact_span_duplicates(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows): maximal duplicated
    token spans — every ``w``-token sliding window whose exact text
    occurs more than once in the corpus (across docs OR repeated within
    one doc), with overlapping/adjacent duplicated windows merged into
    one span per doc (gaps-and-islands over window starts).

    Token positions are 1-based and inclusive. 100 TB shape: windows are
    carried as (doc_id, start, 16-byte md5 digest) rows — the ONE shuffle
    groups by window hash, never by document text; the interval merge is
    a per-doc window function over duplicated hits only, a small
    fraction of the corpus. The suffix-array formulation of the paper is
    replaced by the hash-groupBy that a shuffle engine executes
    natively; recall is identical for fixed w (every duplicated span of
    length >= w contains a duplicated w-window at each offset, so the
    merged islands reconstruct it exactly)."""
    wins = _span_window_hashes(docs, w)
    dup = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    # shuffle_hash: the duplicated-hash set is corpus-dependent (a
    # boilerplate-heavy corpus can mark most windows) -- never assume
    # it broadcasts; the semi join stays hash-to-hash at any volume
    hits = wins.join(dup.select("h").hint("shuffle_hash"), "h", "left_semi").select(
        "doc_id", "start", (F.col("start") + w - 1).alias("end")
    )
    return _merge_islands(hits)


def keep_first_span_duplicates(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Keep-first span dedup: like :func:`exact_span_duplicates`, but the
    CANONICAL occurrence of each duplicated window — the one with the
    least (doc_id, start) — is kept; only the other occurrences become
    removal spans. The corpus retains exactly one copy of every
    duplicated substring (Lee et al.'s actual policy) instead of
    scrubbing them everywhere (the drop-all decontamination form of
    ``dedup_exact_spans``).

    100 TB shape: the same hash-agg + shuffle-hash-join dataflow as
    :func:`exact_span_duplicates`, with the canonical occurrence riding
    the per-hash aggregate as ``min(struct(doc_id, start))`` (struct
    ordering is field-lexicographic with NULLs first — the same vote as
    ``row_number() over (partition by h order by doc_id NULLS FIRST,
    start NULLS FIRST)``, which the DuckDB oracle still spells). The
    r6 formulation computed that vote with two window frames over one
    exchange — correct, but WindowExec buffers EVERY corpus window per
    hash partition and sort-spills: measured 20.2x time at the 10x
    fixture (SCALE_r07.json) where this form and drop-all detect are
    ~5x. Tungsten hash aggregation needs no partition-wide buffering.

    A position's hit multiplicity must subtract the canonical copy PER
    WINDOW HASH: conflicting duplicate doc rows (same doc_id, different
    text — the perturbed x conflicting-duplicate sweep's regime) can
    put two hashes at one (doc_id, start), each with its own vote, and
    tied copies of the canonical (replayed corpora) lose exactly ONE
    row, not all — ``count - countDistinct(h if canonical)`` says both
    at once. Islands then merge per doc over the (strictly smaller)
    non-canonical hit multiset."""
    return _keep_first_spans(_span_window_hashes(docs, w), w)


def _keep_first_spans(
    wins: DataFrame, w: int, seen: DataFrame | None = None
) -> DataFrame:
    """The keep-first vote of :func:`keep_first_span_duplicates` over
    ``(doc_id, start, h)`` window rows. A hash in ``seen`` (the
    streaming registry) is duplicated even if it occurs once here, and
    has no canonical here: every occurrence is a hit."""
    pos = F.struct(F.col("doc_id"), F.col("start"))
    dup = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("n"), F.min(pos).alias("can")
    )
    if seen is None:
        dup = dup.filter(F.col("n") > 1).select("h", "can")
    else:
        # shuffle_hash: the registry is corpus-window-sized -- never
        # assume it broadcasts (same contract as the batch detect)
        reg = seen.select("h", F.lit(True).alias("_seen")).hint("shuffle_hash")
        dup = (
            dup.join(reg, "h", "left")
            .filter((F.col("n") > 1) | F.col("_seen").isNotNull())
            .select("h", F.when(F.col("_seen").isNull(), F.col("can")).alias("can"))
        )
    # shuffle_hash for the same reason as exact_span_duplicates: the
    # duplicated-hash set is corpus-dependent, never assumed broadcast
    hits = (
        wins.join(dup.hint("shuffle_hash"), "h")
        .select(
            "doc_id",
            "start",
            "h",
            pos.eqNullSafe(F.col("can")).alias("is_can"),
        )
        .groupBy("doc_id", "start")
        .agg(
            (
                F.count(F.lit(1))
                - F.count_distinct(F.when(F.col("is_can"), F.col("h")))
            ).alias("m")
        )
        .filter(F.col("m") > 0)
        .select(
            "doc_id", "start", (F.col("start") + w - 1).alias("end"), "m"
        )
    )
    return _merge_islands(hits)


# CTE building blocks shared by the span-family oracles: tokens+window
# hashes, then (given a hits(doc_id, strt, e) CTE) the island merge.
_SPAN_TOKEN_CTES = f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    wins AS (SELECT doc_id, CAST(i AS BIGINT) AS strt,
                    md5(array_to_string(w[CAST(i AS INT):CAST(i + {SPAN_W - 1} AS INT)], ' ')) AS h
             FROM t, unnest(range(1, len(w) - {SPAN_W - 2})) AS u(i)
             WHERE len(w) >= {SPAN_W})
"""

# hagg dedups hits to one row per (doc_id, strt) with a multiplicity
# count before the island windows: duplicate hit rows (replayed corpora)
# would tie the ORDER BY strt ROWS frames, and the two window passes may
# order tied peers differently -- the same phantom-island hazard the
# Spark-side _merge_islands pre-aggregation removes.
_SPAN_ISLAND_CTES = """
    hagg AS (SELECT doc_id, strt, e, COUNT(*) AS m
             FROM hits GROUP BY doc_id, strt, e),
    marked AS (SELECT doc_id, strt, e, m,
        CASE WHEN strt > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY strt
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS newi
        FROM hagg),
    isl AS (SELECT doc_id, strt, e, m,
        SUM(newi) OVER (PARTITION BY doc_id ORDER BY strt
                        ROWS UNBOUNDED PRECEDING) AS island
        FROM marked)
"""

# full chain through isl for the drop-all policy -- shared by the
# detect query's oracle and the apply query's oracle
_SPAN_ORACLE_CTES = f"""
    {_SPAN_TOKEN_CTES},
    dups AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
    hits AS (SELECT doc_id, strt, strt + {SPAN_W - 1} AS e
             FROM wins WHERE h IN (SELECT h FROM dups)),
    {_SPAN_ISLAND_CTES}
"""

# apply-stage tail shared by both policies' APPLY oracles: collapse the
# island spans per doc, left-join to the token arrays, higher-order
# filter out in-span tokens (1-based positions)
_SPAN_APPLY_ORACLE_TAIL = """
    spans AS (
      SELECT doc_id, MIN(strt) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
      FROM spans GROUP BY doc_id
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           -- DuckDB renders an empty list as NULL; Spark's array_join
           -- gives '' -- a fully-scrubbed doc is empty, not missing
           COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
    FROM (
      SELECT t.doc_id, t.w,
             list_filter(t.w, (x, i) ->
               p.sp IS NULL OR
               len(list_filter(p.sp, v -> i >= v.s AND i <= v.e)) = 0) AS kept
      FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ) f
    ORDER BY doc_id
"""


def apply_removal_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Rewrite the corpus with every (doc_id, span_start, span_end) of
    ``spans`` removed: (doc_id, n_tokens, n_removed, cleaned_text).

    Spans collapse to ONE small array per affected doc and token
    removal is a scan-local higher-order filter over the token array --
    no explode, no range join, no Python: at 100 TB the cost is the
    detect stage plus one column rewrite pass. SQL twin:
    ``_SPAN_APPLY_ORACLE_TAIL``."""
    spans_per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("sp")
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    # shuffle_hash: spans_per_doc holds every AFFECTED doc -- a heavily
    # duplicated corpus makes it corpus-fraction-sized, so the rewrite
    # join must not rely on broadcasting it
    return (
        toks.join(spans_per_doc.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "w",
            # Spark's filter lambda index is 0-based; spans are 1-based
            F.expr(
                "filter(w, (x, i) -> sp IS NULL OR "
                "NOT exists(sp, v -> i + 1 >= v.s AND i + 1 <= v.e))"
            ).alias("kept"),
        )
        .select(
            "doc_id",
            # explicit NULL for NULL text: Spark's size(NULL) is -1,
            # the oracle's len(NULL) is NULL
            F.when(F.col("w").isNotNull(), F.size("w"))
            .cast("bigint")
            .alias("n_tokens"),
            F.when(F.col("w").isNotNull(), F.size("w") - F.size("kept"))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.array_join("kept", " "), F.lit("")).alias(
                "cleaned_text"
            ),
        )
        .orderBy("doc_id")
    )

_SPAN_ORACLE = f"""
    WITH {_SPAN_ORACLE_CTES}
    SELECT doc_id, MIN(strt) AS span_start, MAX(e) AS span_end,
           CAST(SUM(m) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
"""


@query(
    "dedup_exact_spans",
    oracle=_SPAN_ORACLE,
    doc="Span-level exact-substring dedup (Lee et al. 2022): maximal "
    "token spans whose every 20-token window repeats somewhere in the "
    "corpus. Complements the document-level exact/MinHash/SimHash "
    "family: it removes shared boilerplate INSIDE otherwise-unique "
    "docs. One hash-groupBy shuffle of (doc_id, start, md5) rows; "
    "island merge windows over duplicated hits only.",
)
def q_dedup_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_span_duplicates(docs).orderBy("doc_id", "span_start")


@query(
    "dedup_apply_spans",
    oracle=f"""
    WITH {_SPAN_ORACLE_CTES},
    {_SPAN_APPLY_ORACLE_TAIL}
    """,
    doc="APPLY stage of span-level dedup: materialize the cleaned "
    "corpus with every duplicated span removed (drop-all policy -- the "
    "conservative decontamination form; dedup_apply_spans_keep_first "
    "is the canonical-occurrence-vote composition). Spans collapse to "
    "one small array per affected doc (broadcast-joinable), and token "
    "removal is a scan-local higher-order filter over the token array "
    "-- no explode, no range join, no Python: at 100 TB the cost is "
    "the detect stage plus one column rewrite pass.",
)
def q_dedup_apply_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return apply_removal_spans(docs, exact_span_duplicates(docs))


# keep-first detect chain (through isl) -- shared by the batch query's
# oracle, the streaming twin's (a one-batch stream IS the batch
# keep-first vote), and the keep-first APPLY oracle
_SPAN_KEEP_FIRST_CTES = f"""
    {_SPAN_TOKEN_CTES},
    ranked AS (SELECT doc_id, strt,
                      COUNT(*) OVER (PARTITION BY h) AS n,
                      ROW_NUMBER() OVER (PARTITION BY h
                          ORDER BY doc_id NULLS FIRST, strt NULLS FIRST) AS rn
               FROM wins),
    hits AS (SELECT doc_id, strt, strt + {SPAN_W - 1} AS e
             FROM ranked WHERE n > 1 AND rn > 1),
    {_SPAN_ISLAND_CTES}
"""

_SPAN_KEEP_FIRST_ORACLE = f"""
    WITH {_SPAN_KEEP_FIRST_CTES}
    SELECT doc_id, MIN(strt) AS span_start, MAX(e) AS span_end,
           CAST(SUM(m) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """


@query(
    "dedup_spans_keep_first",
    oracle=_SPAN_KEEP_FIRST_ORACLE,
    doc="KEEP-FIRST policy for span-level dedup (the canonical-"
    "occurrence vote dedup_apply_spans' docstring points at): each "
    "duplicated 20-token window keeps its least-(doc_id, start) "
    "occurrence and marks only the others for removal, so exactly one "
    "copy of every duplicated substring survives — Lee et al. 2022's "
    "actual removal rule, vs dedup_exact_spans' conservative drop-all. "
    "Same hash-agg + shuffle-hash-join dataflow as the drop-all detect "
    "(the canonical vote rides the per-hash aggregate as min(struct)); "
    "the r6 window-frame form buffered every corpus window per hash "
    "partition and went 20x at the 10x fixture. Island merge runs on "
    "the strictly smaller non-canonical hit multiset.",
)
def q_dedup_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return keep_first_span_duplicates(docs).orderBy("doc_id", "span_start")


@query(
    "dedup_apply_spans_keep_first",
    oracle=f"""
    WITH {_SPAN_KEEP_FIRST_CTES},
    {_SPAN_APPLY_ORACLE_TAIL}
    """,
    doc="Keep-first span dedup END-TO-END (Lee et al. 2022's actual "
    "policy): the canonical-occurrence vote (least (doc_id, start) per "
    "duplicated window survives) composed with the cleaned-corpus "
    "rewrite, so the corpus retains EXACTLY ONE copy of every "
    "duplicated substring -- vs dedup_apply_spans' drop-all scrub. "
    "Same dataflow cost: one window-hash shuffle for the vote, island "
    "merge over the (strictly smaller) non-canonical hit set, one "
    "scan-local higher-order rewrite pass. The exactly-one-survivor "
    "property is pinned in tests/test_round7_props.py.",
)
def q_dedup_apply_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return apply_removal_spans(docs, keep_first_span_duplicates(docs))
