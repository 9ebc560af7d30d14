"""Shared MinHash/LSH and vector-math building blocks.

Registration-free helper layer used by the dedup operator family
(operators/dedup.py), the streaming incremental dedup
(streaming/incremental.py), and the ANN operators (operators/scale.py,
operators/similarity.py). Lives in its own module so importing a helper
does not pull in (and register) a whole query family -- registration
order is the driver's sweep order (queries.py::_load_all).

All hash functions are md5-derived (first 15 hex chars as int64) so the
DuckDB oracles compute bit-identical values: Spark
``conv(substr(md5(x),1,15),16,10)`` == DuckDB
``('0x'||substr(md5(x),1,15))::BIGINT`` (verified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

N_HASHES = 16
BAND_SIZE = 4  # 16 hashes -> 4 bands of 4 rows

# Hot-bucket guard (VERDICT r4 item 4): an LSH bucket with n members
# generates C(n, 2) candidate pairs in the self-join, so ONE degenerate
# bucket (boilerplate docs sharing a band signature, near-constant
# embeddings) makes the join quadratic at real-data scale. Buckets
# larger than the cap are split into contiguous (by id) sub-buckets of
# <= cap joined all-pairs, plus one bridge pair linking consecutive
# sub-buckets' first members -- per-bucket work drops O(n^2) ->
# O(n * cap) while the bucket stays CONNECTED (clustering via connected
# components is unchanged: sub-cliques + bridges span the same
# component the full clique did). Groups <= cap are bit-identical to
# the unguarded join (salt 0, no bridge rows), so the guard is free on
# well-distributed data. Candidate sets were always approximate-by-
# design (banding recall); the oracles mirror the identical capped
# derivation, so parity is exact on any data.
LSH_BUCKET_CAP = 256


def _capped_pairs_sql(
    rows: str, id_col: str, key_cols: tuple[str, str], out: tuple[str, str],
    cte_name: str, cap: int = LSH_BUCKET_CAP,
) -> str:
    """DuckDB CTE chain mirroring ``bucket_pairs`` exactly: row_number
    within each bucket (ordered by id), contiguous sub-buckets of
    ``cap``, all-pairs within a sub-bucket plus rep->rep bridges."""
    k1, k2 = key_cols
    a, b = out
    return f"""
    _bsalt AS (SELECT {id_col}, {k1}, {k2},
                      ROW_NUMBER() OVER (PARTITION BY {k1}, {k2}
                                         ORDER BY {id_col}) - 1 AS rn
               FROM {rows}),
    _bsub AS (SELECT {id_col}, {k1}, {k2}, rn // {cap} AS salt, rn % {cap} AS pos
              FROM _bsalt),
    {cte_name} AS (
      SELECT DISTINCT {a}, {b} FROM (
        SELECT x.{id_col} AS {a}, y.{id_col} AS {b}
        FROM _bsub x
        JOIN _bsub y ON x.{k1} = y.{k1} AND x.{k2} = y.{k2}
                     AND x.salt = y.salt AND x.{id_col} < y.{id_col}
        UNION ALL
        SELECT LAG({id_col}) OVER (PARTITION BY {k1}, {k2} ORDER BY salt) AS {a},
               {id_col} AS {b}
        FROM _bsub WHERE pos = 0
      ) u
      WHERE {a} IS NOT NULL)
    """


def _salted_rows(
    sigs: DataFrame,
    id_col: str,
    k1: str,
    k2: str,
    cap: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Salted bucket rows shared by ``bucket_pairs`` and
    ``embedding_scored_pairs`` -- ONE definition so the capped
    candidate-pair set is identical by construction in both: a
    row_number window (same shuffle key as the downstream self-join)
    assigns each bucket member a contiguous sub-bucket (``_salt``) of
    at most ``cap``. ``carry`` names extra per-row payload columns the
    caller wants to ride through (e.g. the 8-byte simhash, so verify
    never needs a corpus join)."""
    w = Window.partitionBy(k1, k2).orderBy(id_col)
    return (
        sigs.select(id_col, k1, k2, *carry)
        .withColumn("_rn", F.row_number().over(w) - F.lit(1))
        .withColumn("_salt", F.floor(F.col("_rn") / cap))
        # three consumers (both self-join sides + the bridge window)
        # would each recompute the signature lineage AND the row_number
        # sort; a lazy localCheckpoint materializes the salted rows
        # ONCE at first action (no job at construction) -- measured 2x
        # on ann_knn_join_all at sf0.1, and at 100 TB this is the
        # standard signature-materialization step anyway
        .localCheckpoint(eager=False)
    )


def bucket_pairs(
    sigs: DataFrame,
    id_col: str,
    key_cols: tuple[str, str],
    cap: int = LSH_BUCKET_CAP,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id_a, id_b) undirected candidate pairs from bucket co-membership,
    hot-bucket-guarded (see ``LSH_BUCKET_CAP``).

    ``sigs`` holds one row per (id, bucket-key); the classic derivation
    is a self-join on the bucket key with ``id_a < id_b``. This version
    bounds per-bucket join work: a row_number window (same shuffle key
    as the join) assigns each member a contiguous sub-bucket of at most
    ``cap``; all-pairs run within sub-buckets only, and consecutive
    sub-buckets' first members are bridged so the bucket's connected
    component is preserved. Deterministic (ordered by id on both
    engines); DuckDB mirror in ``_capped_pairs_sql``.

    ``carry`` columns ride through to the output as ``<c>_a`` /
    ``<c>_b`` (same pair set; distinct over the widened row is
    cardinality-identical because the payload is functionally dependent
    on the id). This is the shuffle-a-proxy move for verify stages
    whose per-row payload is SMALL (a simhash is 8 bytes): the verify
    join against a corpus-sized signature table disappears entirely.
    Payloads that are large (embedding vectors) take the
    ``embedding_scored_pairs`` path instead, which scores inside the
    bucket groups rather than widening the pair rows.

    (Round-9 measurement note: an explicit repartition feeding the
    self-join was tried and REVERTED -- the static plan keeps two
    per-side ENSURE_REQUIREMENTS exchanges either way (AQE reuses the
    identical shuffle stage at runtime), and a REPARTITION_BY_COL
    exchange opts out of AQE partition coalescing, measuring ~0.2 s
    WORSE on dedup_minhash_pairs at sf0.1.)"""
    k1, k2 = key_cols
    s = _salted_rows(sigs, id_col, k1, k2, cap, carry)
    x, y = s.alias("x"), s.alias("y")
    # shuffle_hash, not merge: the checkpointed rows arrive unsorted, so
    # SMJ would pay two per-side sorts the hash join skips (measured
    # 1.28 vs 1.67 s at sf0.1); the salt bounds any single key group at
    # cap rows and shuffle-partition sizing bounds the per-partition
    # build, so the hash build is memory-safe at scale. Never broadcast:
    # signature rows are corpus-sized.
    within = (
        x.hint("shuffle_hash")
        .join(
            y.hint("shuffle_hash"),
            (F.col(f"x.{k1}") == F.col(f"y.{k1}"))
            & (F.col(f"x.{k2}") == F.col(f"y.{k2}"))
            & (F.col("x._salt") == F.col("y._salt"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            *[F.col(f"x.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"y.{c}").alias(f"{c}_b") for c in carry],
        )
    )
    wl = Window.partitionBy(k1, k2).orderBy("_salt")
    bridges = (
        s.filter(F.col("_rn") % cap == 0)
        .withColumn("_prev", F.lag(id_col).over(wl))
        .select(
            F.col("_prev").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.lag(c).over(wl).alias(f"{c}_a") for c in carry],
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )
        .filter(F.col("id_a").isNotNull())
    )
    return within.unionByName(bridges).distinct()

# word 3-shingles, one row per (doc, shingle)
_SHINGLES_SQL = """
    t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id, array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS shingle
           FROM t, unnest(range(1, len(w) - 1)) AS u(i)
           WHERE len(w) >= 3)
"""

# Universal-hash family over ONE md5 per shingle: x = md5_60bit % p, then
# h_j(x) = ((2j+1)*x + 7919j + 13) mod p  (p = 2^31 - 1, Mersenne prime).
# (2j+1) < 2^6 and x < 2^31 keep the product far inside int64 in both
# engines. 16x fewer md5 evaluations than hashing (j, shingle) pairs --
# the md5 was 80% of the minhash wall time at sf0.1.
_MH_PRIME = 2_147_483_647


def _mh_expr(j: int) -> str:
    return f"((2 * {j} + 1) * x + 7919 * {j} + 13) % {_MH_PRIME}"


# All 16 minhashes as parallel MIN aggregates over ONE pass of the
# shingle rows (no x16 row expansion before the aggregation -- the
# exchange carries docs x 1 wide row), then unpivoted to signature rows.
_MINHASH_SQL = (
    f"""
    {_SHINGLES_SQL},
    sx AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MH_PRIME} AS x
           FROM sh),
    hsw AS (SELECT doc_id, """
    + ", ".join(f"MIN({_mh_expr(j)}) AS mh_{j}" for j in range(N_HASHES))
    + """
            FROM sx GROUP BY doc_id),
    hs AS ("""
    + "\n UNION ALL ".join(
        f"SELECT doc_id, {j} AS h, mh_{j} AS minhash FROM hsw" for j in range(N_HASHES)
    )
    + ")"
)

# band signatures straight off the wide minhash row (no unpivot+regroup)
_BANDS_ONLY_SQL = (
    _MINHASH_SQL
    + ",\n    bands AS ("
    + "\n UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5("
        + " || ',' || ".join(
            f"mh_{j}::VARCHAR" for j in range(band * BAND_SIZE, (band + 1) * BAND_SIZE)
        )
        + ") AS sig FROM hsw"
        for band in range(N_HASHES // BAND_SIZE)
    )
    + ")"
)

_BANDS_SQL = (
    _BANDS_ONLY_SQL
    + ",\n"
    + _capped_pairs_sql(
        "bands", "doc_id", ("band", "sig"), ("doc_a", "doc_b"), "cand"
    )
)


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): word 3-grams via transform+explode (flatMap)."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))")
            ).alias("shingle"),
        )
    )


def _minhash_wide(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, mh_0..mh_{n-1}): all minhashes as parallel MIN aggregates
    over ONE pass of the shingle rows (one md5 per shingle, universal
    hash family on top). The exchange carries docs x 1 wide rows."""
    sx = _shingles(docs).select(
        "doc_id",
        F.expr(
            f"cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint) % {_MH_PRIME}"
        ).alias("x"),
    )
    return sx.groupBy("doc_id").agg(
        *[F.min(F.expr(_mh_expr(j))).alias(f"mh_{j}") for j in range(n_hashes)]
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, h, minhash): MinHash signature rows.

    One md5-family hash per ``h``; min over the doc's shingles. Shuffles
    once on (doc_id, h) -- partial min is computed map-side, so the
    exchange carries at most docs x n_hashes rows regardless of text
    volume.
    """
    wide = _minhash_wide(docs, n_hashes)
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("h"), F.col(f"mh_{j}").alias("minhash")
                    )
                    for j in range(n_hashes)
                ]
            )
        ).alias("hm"),
    ).select("doc_id", F.col("hm.h").alias("h"), F.col("hm.minhash").alias("minhash"))


def band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): LSH band signatures, md5 of each band's
    minhashes in hash order. Band sigs come straight off the wide
    minhash row: no unpivot-to-16-rows and no second exchange -- each
    doc contributes N_HASHES/BAND_SIZE band rows."""
    wide = _minhash_wide(docs)
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh_{j}").cast("string")
                                    for j in range(
                                        band * BAND_SIZE, (band + 1) * BAND_SIZE
                                    )
                                ],
                            )
                        ).alias("sig"),
                    )
                    for band in range(N_HASHES // BAND_SIZE)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def lsh_candidates(docs: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs via LSH banding.

    Band signature = md5 of the band's minhashes in hash order; pairs
    are an equi-join on (band, sig) -- never O(n^2) across the corpus.
    Skewed signatures (boilerplate docs collapsing into one bucket) are
    the classic hazard: ``bucket_pairs`` caps per-bucket join work at
    O(n * cap) via contiguous sub-buckets + connectivity bridges, so a
    degenerate bucket cannot go quadratic either (AQE skew-join only
    rebalances partitions; it cannot shrink a quadratic pair count).
    """
    return bucket_pairs(
        band_signatures(docs), "doc_id", ("band", "sig"), cap=cap
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


def _cosine(a, b):
    """Cosine similarity between two array<double> columns, JVM-side
    (zip_with product + aggregate fold -- no Python UDF in the hot
    path). A zero vector has no direction: the result is NULL, not the
    0/0 NaN (which would poison comparisons and sort differently across
    engines -- DuckDB's list_cosine_similarity returns -1.0 for it!).
    NULL drops out of >= threshold filters and ranks last in DESC
    orderings on both engines, so downstream semantics agree."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    denom = _norm(a) * _norm(b)
    return F.when(denom != 0, dot / denom)


def _cosine_sql(a: str, b: str, places: int) -> str:
    """SQL twin of ``_cosine`` over list expressions ``a`` and ``b``,
    rounded to ``places``: the zero-vector guard returns NULL where
    DuckDB's list_cosine_similarity gives -1.0 or NaN."""
    return (
        f"CASE WHEN list_inner_product({a}, {a}) = 0"
        f" OR list_inner_product({b}, {b}) = 0 THEN NULL"
        f" ELSE ROUND(list_cosine_similarity({a}, {b}), {places}) END"
    )


def _norm(a):
    """sqrt(sum x^2) over an array<double> column -- the exact norm
    factor ``_cosine`` uses, exposed so candidate-verify joins can
    precompute it ONCE per corpus vector instead of once per pair."""
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def _cosine_prenorm(a, b, na, nb):
    """``_cosine`` with the per-vector norms precomputed and joined
    through: bit-identical arithmetic (same dot fold, same ``na * nb``
    denominator, same NULL-on-zero guard), but per-pair work drops from
    three interpreted higher-order folds to one. Use wherever the
    candidate set is much larger than the corpus (LSH verify joins:
    ~800 candidates/vector on the fixtures, so norms-per-pair was 3x
    redundant fold work on the hottest expression in the repo)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    denom = na * nb
    return F.when(denom != 0, dot / denom)


# Banded hyperplane LSH for embedding near-dup: EMB_BANDS bands of
# sign bits; a pair is a candidate iff it shares ANY band bucket.
# Plane weights are md5-derived integers (the same engine-portable hash
# bridge as minhash), NOT an arithmetic sequence -- ((p*a + d*b) % m)
# repeats planes with period m/gcd and silently caps the effective band
# count. Parameters are calibrated on the fixture space: at the
# (deliberately hard) 0.45 threshold this keeps ~41% of all-pairs with
# >=93% recall; at production near-dup thresholds (0.85+) the same
# banding prunes orders of magnitude more.
#
# ADAPTIVE BUCKET WIDTH (round-6 scaling fix): with a FIXED bits-per-
# band, bucket count is constant, so bucket occupancy grows linearly
# with the corpus and candidate pairs grow QUADRATICALLY -- the sf1.0
# scale bench measured ann_knn_join_all at 28x time for 10x data.
# Bits-per-band therefore widens with corpus size: one extra bit per
# doubling past EMB_ADAPT_REF vectors (integer threshold compares, no
# float log -- bit-exact across engines), up to EMB_MAX_PLANES_PER_BAND.
# Corpora <= EMB_ADAPT_REF (every driver fixture) keep the historical
# 6-bit buckets BIT-FOR-BIT: extension planes are numbered AFTER the
# original EMB_N_PLANES and excluded from the bucket when j >= nbits.
#
# JOINT BITS+BANDS GROWTH (round-7 scaling fix): round 6 capped bits at
# 12 because each added bit alone costs recall; the 300x measurement
# (SCALE_r06_300x.json) showed the cap regime is real -- past ~131k
# vectors candidates/vec grow LINEARLY with corpus size (1149 -> 2713
# at 200k -> 600k) and the verify shuffle goes quadratic in aggregate.
# The fix holds recall while bits keep growing: each bit past
# EMB_CAP_BITS multiplies the per-band candidate-collision probability
# at the calibration threshold (cos = 0.45) by
# p = 1 - acos(0.45)/pi ~= 0.6486, so the band count grows to the
# MINIMAL L with 1 - (1 - p^bits)^L >= the 12-bit/32-band recall --
# precomputed below as EMB_BANDS_BY_EXTRA_BITS (ceil arithmetic,
# re-derived and pinned by tests/test_round7_props.py). Extension
# bands (band >= 32) draw planes from their own index region, so every
# base-band bucket -- and thus every result at or below the 12-bit
# scale -- is bit-for-bit unchanged; below EMB_CAP_BITS the extension
# bands do not exist at all. Per-octave candidate growth past the old
# cap drops from 2x (capped) to ~p * (L(b+1)/L(b)) ~= 1.55x -- the
# classic rho ~= 0.62 LSH sublinearity at this deliberately hard
# threshold.
EMB_PLANES_PER_BAND = 6         # base bits; behavior-identical floor
EMB_MAX_PLANES_PER_BAND = 18    # supports corpora to ~8.4M vectors
EMB_CAP_BITS = 12               # round-6 cap: band growth starts here
EMB_BANDS = 32                  # base bands (nbits <= EMB_CAP_BITS)
# minimal band count holding recall at each bit width past the cap:
# index = nbits - EMB_CAP_BITS -> bands for 12, 13, ..., 18 bits
EMB_BANDS_BY_EXTRA_BITS = (32, 50, 77, 118, 182, 280, 432)
EMB_N_PLANES = EMB_PLANES_PER_BAND * EMB_BANDS          # base planes
# base region: blocks of EMB_N_PLANES covering bands 0..31 for every
# bit up to the max; extension bands follow, contiguous per band
EMB_EXT_PLANE_BASE = EMB_N_PLANES * (
    EMB_MAX_PLANES_PER_BAND // EMB_PLANES_PER_BAND
)
EMB_N_PLANES_TOTAL = EMB_EXT_PLANE_BASE + (
    EMB_BANDS_BY_EXTRA_BITS[-1] - EMB_BANDS
) * EMB_MAX_PLANES_PER_BAND
EMB_ADAPT_REF = 2048  # largest corpus that keeps the 6-bit floor
_EMB_WEIGHT_DIMS = 256  # weight-table d range; covers any fixture dim


def emb_adaptive_bits(n_vectors: int) -> int:
    """Bits per band for an ``n_vectors`` corpus: 6 + one per doubling
    past EMB_ADAPT_REF, capped at EMB_MAX_PLANES_PER_BAND. Integer
    comparisons only, mirrored verbatim by the SQL ``nb`` CTE."""
    extra = sum(
        1
        for k in range(EMB_MAX_PLANES_PER_BAND - EMB_PLANES_PER_BAND)
        if n_vectors > (EMB_ADAPT_REF << k)
    )
    return EMB_PLANES_PER_BAND + extra


def emb_adaptive_bands(n_vectors: int) -> int:
    """Band count for an ``n_vectors`` corpus: 32 while bits are at or
    below the round-6 cap (every fixture scale -- bit-identical), then
    the minimal recall-holding count per added bit
    (EMB_BANDS_BY_EXTRA_BITS). Mirrored by the SQL ``nb`` CTE's CASE."""
    extra = max(0, emb_adaptive_bits(n_vectors) - EMB_CAP_BITS)
    return EMB_BANDS_BY_EXTRA_BITS[extra]


def _emb_plane_index(band: int, j: int) -> int:
    """Global plane index for bit ``j`` of ``band``.

    Base bands (band < 32) are laid out in BLOCKS of EMB_N_PLANES:
    block b = j // 6 holds bits 6b..6b+5 of every band at index
    ``EMB_N_PLANES * b + 6 * band + (j % 6)``. Block 0 is the
    historical base layout (6*band + j) and block 1 the round-6
    extension planes BIT-FOR-BIT, so small corpora hash exactly as
    before the adaptive widening existed. Extension bands (band >= 32,
    round-7 joint bits+bands growth) occupy their own contiguous
    region after EMB_EXT_PLANE_BASE -- no index ever collides with a
    base-band plane, so base buckets are unchanged at ANY width. The
    SQL ``planes`` CTE inverts both regions."""
    if band < EMB_BANDS:
        block, bit = divmod(j, EMB_PLANES_PER_BAND)
        return EMB_N_PLANES * block + EMB_PLANES_PER_BAND * band + bit
    return (
        EMB_EXT_PLANE_BASE
        + (band - EMB_BANDS) * EMB_MAX_PLANES_PER_BAND
        + j
    )


# nbits: 6 + one per corpus doubling past EMB_ADAPT_REF (verbatim
# emb_adaptive_bits); nbands: the pinned recall-holding table keyed on
# nbits (verbatim emb_adaptive_bands) -- integer arithmetic only
_NBITS_EXPR = f"{EMB_PLANES_PER_BAND}" + "".join(
    f" + (CASE WHEN n > {EMB_ADAPT_REF << k} THEN 1 ELSE 0 END)"
    for k in range(EMB_MAX_PLANES_PER_BAND - EMB_PLANES_PER_BAND)
)
_NBANDS_EXPR = (
    "CASE "
    + " ".join(
        f"WHEN nbits <= {EMB_CAP_BITS + i} THEN {bands}"
        for i, bands in enumerate(EMB_BANDS_BY_EXTRA_BITS[:-1])
    )
    + f" ELSE {EMB_BANDS_BY_EXTRA_BITS[-1]} END"
)


# PRODUCTION-THRESHOLD BANDING (round-7): real near-dup dedup runs at
# cos >= ~0.9 (the SemDeDup/embedding-near-dup regime), where the
# per-bit collision probability p = 1 - acos(0.9)/pi ~= 0.8564 is far
# higher than the deliberately hard calibration threshold's 0.6486 --
# so the SAME adaptive bit widths hold recall with FAR fewer bands.
# EMB_STRICT_BANDS_BY_NBITS pins, for each width 6..18, the minimal L
# with 1 - (1 - p^nbits)^L >= EMB_STRICT_RECALL at cos =
# EMB_STRICT_THRESHOLD (ceil arithmetic, re-derived and pinned by
# tests/test_round7_props.py). Candidate volume per vector at the
# width-transition corpus sizes grows only ~1.17x per octave
# (192 -> 1536 cand/vec from 2k to 8.4M vectors) vs the 0.45 table's
# 1.45x -- the rho-sublinearity payoff of an easier threshold.
EMB_STRICT_THRESHOLD = 0.90
EMB_STRICT_RECALL = 0.95
EMB_STRICT_BANDS_BY_NBITS = (6, 8, 9, 11, 13, 15, 18, 21, 25, 30, 35, 41, 48)


def emb_bands_for_threshold(
    threshold: float, nbits: int, target_recall: float
) -> int:
    """Minimal band count L with banded-collision probability
    ``1 - (1 - p^nbits)^L >= target_recall`` at the given cosine
    threshold, where ``p = 1 - acos(threshold)/pi`` is the hyperplane
    per-bit agreement probability. The closed form behind BOTH pinned
    band tables (0.45 calibration and 0.90 strict)."""
    import math

    p = 1.0 - math.acos(threshold) / math.pi
    return math.ceil(
        math.log(1.0 - target_recall) / math.log(1.0 - p**nbits)
    )


def emb_strict_bands(n_vectors: int) -> int:
    """Band count for the production-threshold (0.90) banding at an
    ``n_vectors`` corpus: same adaptive bit width as the calibration
    family, strict band table. Mirrored by the SQL strict ``nb`` CTE."""
    return EMB_STRICT_BANDS_BY_NBITS[
        emb_adaptive_bits(n_vectors) - EMB_PLANES_PER_BAND
    ]


_NBANDS_STRICT_EXPR = (
    "CASE "
    + " ".join(
        f"WHEN nbits <= {EMB_PLANES_PER_BAND + i} THEN {bands}"
        for i, bands in enumerate(EMB_STRICT_BANDS_BY_NBITS[:-1])
    )
    + f" ELSE {EMB_STRICT_BANDS_BY_NBITS[-1]} END"
)
# (band, bit) decode inverting _emb_plane_index for both regions: base
# bands (p < EMB_EXT_PLANE_BASE) use the block layout, extension bands
# are contiguous per band after it
_PLANE_BAND_EXPR = (
    f"CASE WHEN p < {EMB_EXT_PLANE_BASE}"
    f" THEN (p % {EMB_N_PLANES}) // {EMB_PLANES_PER_BAND}"
    f" ELSE {EMB_BANDS} + (p - {EMB_EXT_PLANE_BASE}) // {EMB_MAX_PLANES_PER_BAND} END"
)
_PLANE_BIT_EXPR = (
    f"CASE WHEN p < {EMB_EXT_PLANE_BASE}"
    f" THEN (p % {EMB_PLANES_PER_BAND})"
    f" + {EMB_PLANES_PER_BAND} * (p // {EMB_N_PLANES})"
    f" ELSE (p - {EMB_EXT_PLANE_BASE}) % {EMB_MAX_PLANES_PER_BAND} END"
)

def _emb_bands_sql(nbands_expr: str) -> str:
    """The shared DuckDB banding SQL (cemb/nb/planes/w/dims/psums/
    ebands/ecand CTE chain), parameterized on the band-count expression
    so the calibration (0.45) and strict (0.90) families mirror their
    own pinned tables over the SAME plane pool and decode."""
    return f"""
    -- canonical vector per id: replayed/conflicting duplicate rows
    -- resolve to the lexicographically-minimal embedding BEFORE any
    -- signature math (MIN over lists is identical in both engines;
    -- all-NULL groups stay NULL and band to nothing). Without this, a
    -- duplicate vec_id would let the plane sums mix copies here while
    -- the engine bands each row separately -- structurally divergent,
    -- and every per-id winner join downstream would be ambiguous.
    -- window form of MIN(embedding) GROUP BY vec_id (proven row-
    -- identical incl. NULL/empty/conflicting duplicates): DuckDB's
    -- list-MIN aggregate allocates ~90 KB of state PER GROUP (measured
    -- 11 GB / 5 s on a 131k-id corpus, x4 once the CTE inlines into
    -- its consumers -- OOM'd the extension-region parity run); the
    -- ROW_NUMBER pick is 0.1 s / 95 MB on the same corpus
    cemb AS (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY embedding ASC NULLS LAST) AS _rn
        FROM embeddings) WHERE _rn = 1
    ),
    nb AS (
      SELECT nbits, {nbands_expr} AS nbands
      FROM (SELECT {_NBITS_EXPR} AS nbits
            FROM (SELECT COUNT(*) AS n FROM cemb))
    ),
    -- ACTIVE planes only (bit < nbits, band < nbands), decoded by
    -- inverting _emb_plane_index; inactive planes contribute nothing
    -- to any bucket, so filtering them here is exactly the Spark
    -- side's adaptive W matrix (and was the old code's `& mask`)
    planes AS (
      SELECT p, band, bit FROM (
        SELECT p, {_PLANE_BAND_EXPR} AS band, {_PLANE_BIT_EXPR} AS bit,
               nbits, nbands
        FROM range(0, {EMB_N_PLANES_TOTAL}) r1(p), nb
      ) WHERE bit < nbits AND band < nbands
    ),
    w AS (
      SELECT p, band, bit, d,
             (('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT
              % 2001) - 1000 AS wt
      FROM planes, range(0, {_EMB_WEIGHT_DIMS}) r2(d)
    ),
    -- NULL/empty embeddings unnest to zero dim rows, so filtering them
    -- BEFORE the lateral is a semantic no-op -- but DuckDB's unnest
    -- lateral costs ~50 KB per INPUT row even when it emits nothing
    -- (measured: 7 GB / 6 s over a 131k-row mostly-empty corpus), and
    -- the CTE inlines into several consumers, so the filter is what
    -- keeps the oracle runnable on sparse-embedding corpora
    dims AS (
      SELECT vec_id, i AS d, (embedding::DOUBLE[])[CAST(i + 1 AS INT)] AS val
      FROM (SELECT vec_id, embedding FROM cemb WHERE len(embedding) > 0) ce,
           unnest(range(0, len(embedding))) AS u(i)
    ),
    psums AS (
      SELECT vec_id, band, bit, SUM(wt * val) AS s
      FROM dims JOIN w USING (d) GROUP BY vec_id, band, bit
    ),
    ebands AS (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << bit)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM psums GROUP BY vec_id, band
    ),
""" + _capped_pairs_sql(
        "ebands", "vec_id", ("band", "bucket"), ("vec_a", "vec_b"), "ecand"
    )


_EMB_BANDS_SQL = _emb_bands_sql(_NBANDS_EXPR)
_EMB_BANDS_STRICT_SQL = _emb_bands_sql(_NBANDS_STRICT_EXPR)
# the candidate-pair cosine the banded oracles verify with (cemb a, b)
_SQL_COS4 = _cosine_sql("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]", 4)


def _plane_weights(p: int, dim: int) -> list[int]:
    """Integer weights of hyperplane ``p``, identical to the SQL bridge:
    ``('0x'||substr(md5(p||'_'||d),1,15))::BIGINT % 2001 - 1000``."""
    import hashlib

    return [
        int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16) % 2001 - 1000
        for d in range(dim)
    ]


def canonical_embeddings(emb: DataFrame) -> DataFrame:
    """One canonical row per vec_id: the lexicographically-minimal
    embedding (MIN over arrays, identical ordering in Spark and
    DuckDB; all-NULL ids stay NULL and band to nothing). The
    duplicate-replay ingestion contract for the banded family -- a
    replayed vec_id carrying a corrected vector must not band each
    copy separately while per-id joins downstream pick ambiguous
    winners. Map-side-combinable partial MIN: the exchange carries one
    row per id, the same cost class as any ingestion dedup. SQL twin:
    the ``cemb`` CTE in ``_EMB_BANDS_SQL``. Expects columns
    (vec_id, e)."""
    return emb.groupBy("vec_id").agg(F.min("e").alias("e"))


def embedding_band_buckets(
    emb: DataFrame,
    dim: int | None = None,
    n_vectors: int | None = None,
    nbands: int | None = None,
    carry_vector: bool = False,
) -> DataFrame:
    """(vec_id, band, bucket[, e]): banded hyperplane signatures in ONE
    scan-local Arrow-batched pass -- zero shuffle.

    ``carry_vector=True`` (round 10): ``emb`` must additionally carry a
    precomputed ``nv double`` column (the Spark ``_norm`` fold, one
    evaluation per corpus row); every band row then emits the ORIGINAL
    embedding array and that norm, carried through byte-identically, so
    ``embedding_scored_pairs`` can repartition straight to the bucket
    groups without the s |><| corpus vec_id join (and its corpus-wide
    shuffle + hash build). The vector objects are repeated by REFERENCE
    python-side; the real cost is the Arrow emit (~nbands x 544 B per
    input row), which is sliced to ~64k-row yields so one batch never
    balloons.

    All band-bit dot products per vector are a single numpy matmul
    (``E @ W.T``) inside ``mapInPandas``; sign bits roll into per-band
    buckets in the same batch. This is the sanctioned vectorized-UDF
    case: a dense matrix product that built-in Column expressions can
    only express as hundreds of interpreted ``aggregate(zip_with(...))``
    folds (measured 60x slower) or an exploded dims x planes join (a
    shuffle signatures never needed). Weights are md5-derived
    driver-side with exactly the SQL bridge formula, so the DuckDB
    oracle (SQL md5 weight table) agrees bit-for-bit -- pinned by the
    parity sweep.

    Bucket width AND band count adapt to corpus size
    (``emb_adaptive_bits`` / ``emb_adaptive_bands``: joint growth past
    the 12-bit cap holds recall while candidates stay sublinear): pass
    ``n_vectors`` when a memoized count is available (registered
    queries use ``sources.embedding_count``); None falls back to one
    ``emb.count()`` job at construction.
    """
    import numpy as np

    if dim is None or dim == 0:
        # construction-time limit-1 probe; callers that know the fixture
        # pass the memoized sources.embedding_dim instead (zero jobs)
        head = emb.select("e").head()
        dim = len(head["e"]) if head and head["e"] is not None else _EMB_WEIGHT_DIMS
    if n_vectors is None:
        n_vectors = emb.count()
    nbits = emb_adaptive_bits(n_vectors)
    # nbands override: the production-threshold family passes its own
    # recall-holding band count (emb_strict_bands); None keeps the
    # calibration table. Bit width always follows corpus size.
    n_bands = nbands if nbands is not None else emb_adaptive_bands(n_vectors)
    # weight rows ordered (band, j): base planes keep historical
    # indices, so nbits == 6 reproduces the pre-adaptive buckets exactly
    W = np.array(
        [
            _plane_weights(_emb_plane_index(b, j), dim)
            for b in range(n_bands)
            for j in range(nbits)
        ],
        dtype=np.float64,
    )

    def compute(batches):
        import pandas as pd

        pows = (1 << np.arange(nbits)).astype("int64")
        for pdf in batches:
            if not len(pdf):
                continue
            # NULL vectors produce NO band rows and ragged vectors act
            # zero-padded/truncated to `dim` -- exactly the oracle's
            # unnest semantics (a NULL list unnests to zero dim rows; a
            # short list contributes only its own dims to the plane
            # sums). np.vstack on a batch holding a None CRASHED the
            # whole job before round 6 -- one failed-encoder row must
            # not kill a corpus-scale banding pass.
            vals = pdf["e"].values
            # len(v) == 0 skipped too: an empty list unnests to zero
            # dim rows on the oracle side, same as NULL
            keep = [i for i, v in enumerate(vals) if v is not None and len(v) > 0]
            if not keep:
                continue
            E = np.zeros((len(keep), dim), dtype=np.float64)
            for r, i in enumerate(keep):
                t = np.asarray(vals[i][:dim], dtype=np.float64)
                E[r, : len(t)] = t
            ids = pdf["vec_id"].values[keep]
            bits = (E @ W.T >= 0).reshape(len(E), n_bands, nbits)
            buckets = (bits * pows).sum(axis=2)
            if not carry_vector:
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids, n_bands),
                        "band": np.tile(np.arange(n_bands, dtype="int64"), len(E)),
                        "bucket": buckets.reshape(-1).astype("int64"),
                    }
                )
                continue
            # fat emit: slice so one yielded frame stays ~64k rows
            # (~35 MB of Arrow at 64 float64 dims) however large the
            # input batch. The vector travels as its RAW float64 bytes
            # (one binary cell per row, decoded zero-copy by
            # np.frombuffer in the scorer): bit-exact round trip by
            # construction, and the Arrow/UnsafeRow boundary handles one
            # memcpy per row instead of a 64-element list per row --
            # emitting array<double> instead measured +0.8 s on the
            # sf0.1 near-pairs A/B (1.79 vs 0.98 s median, interleaved).
            kept_vals = np.asarray(
                [np.asarray(vals[i], dtype=np.float64).tobytes() for i in keep],
                dtype=object,
            )
            # precomputed per-vector norm rides through byte-identically
            # (computed ONCE per corpus row by the Spark _norm fold
            # upstream -- evaluating that interpreted fold per BAND row
            # instead measured +0.25 s at sf0.1)
            nvs = pdf["nv"].values[keep]
            step = max(1, 65536 // n_bands)
            for lo in range(0, len(keep), step):
                hi = min(lo + step, len(keep))
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids[lo:hi], n_bands),
                        "band": np.tile(
                            np.arange(n_bands, dtype="int64"), hi - lo
                        ),
                        "bucket": buckets[lo:hi].reshape(-1).astype("int64"),
                        "e": np.repeat(kept_vals[lo:hi], n_bands),
                        "nv": np.repeat(nvs[lo:hi], n_bands),
                    }
                )

    schema = "vec_id long, band long, bucket long"
    if carry_vector:
        schema += ", e binary, nv double"
    return emb.mapInPandas(compute, schema=schema)


def _bucket_pair_dot_den(min_cs: float | None, cap: int):
    """Partition scorer for ``embedding_scored_pairs``: within each
    (band, bucket) group, the rows are sorted by vec_id, chunked into
    contiguous sub-buckets of ``cap`` (EXACTLY the ``_salted_rows``
    row_number derivation -- same order, same chunk boundaries), all
    i < j pairs are scored within each chunk, and consecutive chunks'
    FIRST members are scored as the bridge pairs. This folds what used
    to be a corpus-wide window (+ localCheckpoint), an s |><| corpus
    shuffled-hash join, a bridge lag window and TWO bridge corpus
    joins into plain numpy index arithmetic inside the one pass the
    data already makes -- the guide-section-2.4 shuffle deletion on
    top of the r9 section-4.2 vectorization.

    DETERMINISM CONTRACT (the equal-cs invariant consumers rely on):
    the dot is ``(a * b).sum(last_axis)`` -- numpy's pairwise reduction
    over the dim axis is a pure function of the two vectors ALONE
    (verified: identical bits whether computed via the chunk's 3-d
    broadcast, a 2-row matrix, or the scalar pair path), so the same
    pair colliding in several bands/chunks -- or appearing as a bridge
    -- always carries the same raw dot, hence the same rounded cs.
    The division, NULL-on-zero-denominator guard and 4-decimal HALF_UP
    round stay in Spark (same expressions as before), so engine-side
    rounding semantics are unchanged.

    CROSS-ENGINE note (ADVICE r9): numpy's pairwise dot is not
    bit-identical to DuckDB's sequential list_inner_product fold, so
    oracle parity additionally relies on no cosine landing within ~1
    ulp of a 0.00005 rounding boundary -- same class of assumption the
    entropy oracle documents, negligible on real-valued fixtures, and
    the 6e-5 prefilter margin absorbs it on the cull side.

    NULL semantics: a mixed-length pair's dot is emitted as NaN, which
    the Arrow boundary converts to NULL -- exactly the old
    ``zip_with`` fold's NULL-padded product. NULL/empty vectors never
    reach this function at all: the banding pass emits no band row for
    them (same reason they never joined the old corpus side).

    ``min_cs``: conservative prefilter ``dot >= (min_cs - 6e-5) * den``
    (den > 0) -- a strict superset of the consumer's ``round(cs, 4) >=
    min_cs`` (which implies cs >= min_cs - 5e-5), so only rows the
    exact Spark-side filter would drop anyway are culled before they
    cross the Arrow boundary. Applied to bridge pairs too (the r9 form
    only culled within-pairs): the exact filter below the de-dup
    discards the same rows, so the post-filter stream is unchanged."""

    def score(batches):
        import numpy as np
        import pandas as pd

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        out_a, out_b, out_s, out_d = [], [], [], []

        def emit(ia, ib, dots, dens):
            if min_cs is not None:
                keep = dots >= (min_cs - 6e-5) * dens
                # den == 0 or NaN dot rows fail the exact filter too
                keep &= dens > 0
                ia, ib = ia[keep], ib[keep]
                dots, dens = dots[keep], dens[keep]
            if len(ia):
                out_a.append(ia)
                out_b.append(ib)
                out_s.append(dots)
                out_d.append(dens)

        for _, g in pdf.groupby(["band", "bucket"], sort=False):
            n = len(g)
            if n < 2:
                continue
            ids = g["vec_id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            # e arrives as raw float64 bytes (binary cells); frombuffer
            # is a zero-copy float64 view -- bit-exact round trip
            raw = g["e"].to_numpy()[order]
            vecs = [np.frombuffer(b, dtype=np.float64) for b in raw]
            nv = g["nv"].to_numpy(dtype=np.float64)[order]
            lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=n)
            for lo in range(0, n, cap):
                hi = min(lo + cap, n)
                m = hi - lo
                if m < 2:
                    continue
                iu, ju = np.triu_indices(m, k=1)
                clens = lens[lo:hi]
                if (clens == clens[0]).all():
                    E = np.vstack(vecs[lo:hi]).astype(np.float64, copy=False)
                    dots = (E[:, None, :] * E[None, :, :]).sum(axis=2)[iu, ju]
                else:  # ragged corpus: per-pair, NULL (NaN) on mismatch
                    dots = np.fromiter(
                        (
                            (vecs[lo + i] * vecs[lo + j]).sum()
                            if clens[i] == clens[j]
                            else np.nan
                            for i, j in zip(iu, ju)
                        ),
                        dtype=np.float64,
                        count=len(iu),
                    )
                dens = (nv[lo:hi][iu] * nv[lo:hi][ju]).astype(np.float64)
                emit(ids[lo:hi][iu], ids[lo:hi][ju], dots, dens)
            if n > cap:
                # bridge pairs: (first of chunk c-1, first of chunk c),
                # ascending ids by construction -- the bucket_pairs
                # lag-over-pos-0 window, computed locally
                firsts = np.arange(0, n, cap)
                ia, ib = firsts[:-1], firsts[1:]
                dots = np.fromiter(
                    (
                        (vecs[i] * vecs[j]).sum()
                        if lens[i] == lens[j]
                        else np.nan
                        for i, j in zip(ia, ib)
                    ),
                    dtype=np.float64,
                    count=len(ia),
                )
                emit(ids[ia], ids[ib], dots, (nv[ia] * nv[ib]).astype(np.float64))
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "dot": np.concatenate(out_s),
                    "den": np.concatenate(out_d),
                }
            )

    return score


def embedding_scored_pairs(
    emb: DataFrame,
    dim: int | None = None,
    n_vectors: int | None = None,
    cap: int = LSH_BUCKET_CAP,
    dedup: bool = True,
    nbands: int | None = None,
    min_cs: float | None = None,
) -> DataFrame:
    """(id_a, id_b, cs): exactly ``bucket_pairs`` over the embedding
    band rows, with each pair's rounded cosine scored INSIDE the bucket
    groups -- the scale fix for the verify stage's fat pair stream.

    The r6 verify composition (candidate pairs -> join corpus side a ->
    join corpus side b -> cosine) shuffles the SECOND join's input with
    the first side's vector already attached: at 600k vectors / 1.22G
    candidate pairs that stream is ~pairs x (pair + 512 B vector) ~=
    670 GB raw -- it DNF'd this box's disk in rounds 6 AND 7 (lz4 and
    zstd, SCALE_r06_300x / SCALE_r07). This version never puts a vector
    on a pair row: vectors ride the BAND rows (one copy per band
    membership, corpus x nbands rows ~= 36 GB at 600k -- 18x less), the
    bucket groups emit narrow (id_a, id_b, dot, den) directly, and
    every downstream exchange (dedup groupBy, threshold filter, top-k)
    is id+double-sized.

    ROUND 9 (optimization): the bucket all-pairs scoring moved from a
    shuffled-hash self-join evaluating one interpreted
    ``aggregate(zip_with(...))`` fold per candidate (r8-measured at
    0.96-1.37 us/candidate -- THE dominant term of the 1M-vector
    campaign's 4,289 s wall) to a ``mapInPandas`` pass over the
    repartitioned fat band rows: each sub-bucket chunk's pairs are one
    numpy broadcast-multiply + axis-sum (~0.01 us/candidate), the
    guide's section-4.2 vectorized-native rule.

    ROUND 10 (optimization): the banding pass now carries the vector
    itself (``carry_vector=True``), so the whole candidate+score
    pipeline is banding -> ONE repartition by (band, bucket) -> scorer.
    Deleted outright (guide section 2.4): the ``_salted_rows``
    row_number window and its localCheckpoint, the s |><| corpus
    vec_id shuffled-hash join (a corpus-wide vector shuffle + hash
    build), and the bridge path's lag window + two corpus-wide vector
    joins + separate ``mapInPandas``. Salt chunking and bridge pairs
    are index arithmetic inside the scorer (``_bucket_pair_dot_den``):
    rows sorted by vec_id within the (band, bucket) group, contiguous
    chunks of ``cap`` -- exactly the row_number derivation -- with
    consecutive chunks' first members as the bridges. The pair SET is
    unchanged; the cosine pipeline keeps division, the
    NULL-on-zero-denominator guard and the 4-decimal round in Spark
    expressions, and the numpy dot is deterministic per PAIR, so the
    equal-cs-across-occurrences invariant that the de-dup ``max`` and
    the ``min_cs`` pushdown rely on still holds by construction.
    Partition sizing bounds the Python worker's per-task concat
    (~32 MB + one chunk's n^2 x dim broadcast temp, n <= cap).

    ``min_cs``: consumers that threshold the scored stream (near-dup at
    0.45, the strict family's 0.30 audit floor) pass that threshold
    here so a conservative superset filter runs INSIDE the scorer
    (dot >= (min_cs - 6e-5) * den -- strictly wider than the exact
    rounded filter the consumer applies), and the exact filter runs
    below the pair de-dup as before. Bit-identical by the equal-cs
    invariant: every occurrence of a pair carries the same cs, so
    either all pass the filter or none do, and max-after-filter ==
    filter-after-max. The win is unchanged from r7: the de-dup
    exchange carries survivors only (~1% of pairs at the 0.30 floor).
    Consumers that need the full stream (kNN top-k) leave it None.
    """
    import math

    if min_cs is not None and not dedup:
        # legal-looking but semantically hazardous combination (ADVICE
        # r7): a dup-invariant consumer (kNN argmax/top-k) that passed a
        # floor here would silently truncate neighbor lists below it --
        # every current threshold consumer de-dups, every dedup=False
        # consumer needs the full stream, so reject the mix outright
        raise ValueError(
            "min_cs with dedup=False would truncate the occurrence "
            "stream below the floor; threshold consumers must de-dup "
            "(dedup=True), full-stream consumers must filter themselves"
        )
    if n_vectors is None:
        n_vectors = emb.count()

    # ROUND 10: the banding pass itself carries the vector, so the ONLY
    # exchange in the whole candidate+score pipeline is the repartition
    # to the (band, bucket) groups. The r9 shape additionally paid: the
    # _salted_rows row_number window (+ its localCheckpoint), the
    # s |><| corpus vec_id shuffled-hash join (a corpus-wide vector
    # shuffle + hash build), and the bridge path's lag window + TWO
    # corpus-wide vector joins. Salt chunking and bridge pairs are
    # index arithmetic inside the scorer now (_bucket_pair_dot_den) --
    # same pair set by construction. The shuffle still replicates each
    # vector nbands times (inherent to scoring inside bucket groups);
    # what is gone is every OTHER shuffle.
    # nv is the exact Spark _norm expression, evaluated ONCE per corpus
    # row (bit-identical to the old corpus-side column) and carried
    # through the banding emit -- evaluating the interpreted fold per
    # BAND row instead measured +0.25 s at sf0.1
    bands = embedding_band_buckets(
        emb.select("vec_id", "e", _norm("e").alias("nv")),
        dim=dim, n_vectors=n_vectors, nbands=nbands, carry_vector=True,
    )
    if nbands is None:
        nbands = emb_adaptive_bands(n_vectors)
    # ~600 B per fat band row (64 float64 + keys + row overhead);
    # ~32 MB partitions bound the Python worker's per-task state (the
    # whole-partition concat plus one chunk's n^2 x dim broadcast temp,
    # n <= cap) -- and the repartition is what guarantees every
    # (band, bucket) group lands whole inside one partition
    fat_bytes = n_vectors * nbands * 600
    nparts = max(32, math.ceil(fat_bytes / (32 << 20)))
    fat = bands.repartition(nparts, F.col("band"), F.col("bucket"))
    pairs_raw = fat.mapInPandas(
        _bucket_pair_dot_den(min_cs, cap),
        schema="id_a long, id_b long, dot double, den double",
    )
    # division, NULL-on-zero-denominator and the 4-decimal round stay
    # Spark expressions -- identical semantics to the old
    # round(_cosine_prenorm(...), 4) with only the dot's producer moved
    # to numpy (deterministic per pair; see _bucket_pair_dot_den)
    occurrences = pairs_raw.select(
        "id_a",
        "id_b",
        F.round(
            F.when(F.col("den") != 0, F.col("dot") / F.col("den")), 4
        ).alias("cs"),
    )
    if min_cs is not None:
        # exact filter, pushed below the de-dup (see docstring): NULL
        # cs (zero-norm sides) fails the predicate, matching the
        # consumer's own threshold filter; the scorer already culled
        # the conservative superset map-side
        occurrences = occurrences.filter(F.col("cs") >= F.lit(min_cs))
    if not dedup:
        # duplicate (a, b) occurrences (same pair colliding in several
        # bands) carry EQUAL cs, so consumers whose reduction is
        # dup-invariant (per-vector argmax: identical rows cannot
        # change a max_by) skip this aggregate -- at 600k vectors it is
        # a ~1.2G-GROUP hash aggregate (nearly every pair is unique)
        # whose spill-merge OOM'd the kNN point, for zero benefit there
        return occurrences
    return occurrences.groupBy("id_a", "id_b").agg(F.max("cs").alias("cs"))
