"""Edge-case fixtures for the oracle-compare harness
(``scripts/preflight_sweep.py --fixture KIND``).

The driver's correctness gate runs on clean generated data; review
passes kept finding latent Spark/DuckDB divergences that only trigger on
rows or cardinalities the synthetic fixtures never produce. ``build``
copies a base fixture dir with one such shape applied to every table
(schemas preserved, so column types stay identical):

- adversarial: edge rows injected -- empty/NULL/duplicate/unicode text,
  NULL event fields and FKs, IEEE specials, clock-skew timestamps, zero,
  duplicate, huge and NULL embedding vectors, all-NULL dimension rows.
- empty: every table with 0 rows. At 100 TB a selective filter or a
  cold partition routinely hands an operator zero rows; global
  aggregates may legitimately emit one NULL/0 row -- engines must agree.
- one: every table LIMIT 1 (deterministic min-key row), the freshly
  bootstrapped pipeline. FKs may dangle -- joins must survive it.
- dup: every table UNION ALL'd with itself -- the ingestion-retry
  shape. Identical tied rows make ANY tiebreak value-identical, so a
  divergence is a real order-dependence or uniqueness-assumption bug.
- conflict: every table UNION ALL'd with a key-preserving,
  payload-perturbed copy (a replayed batch carrying corrected values).
  Ties become REAL conflicts; any per-key winner pick must be
  deterministic and oracle-identical.
- ext_region: the LSH EXTENSION region at fixture cost. The joint
  bits+bands knob only engages past 131,072 distinct vectors, a scale no
  driver fixture reaches, so clean sweeps never run the extension-band
  SQL bridge (two-region plane decode, the nbands CASE,
  extension-plane weights). EMPTY embedding lists count toward the
  COUNT(*) that drives nbits/nbands but unnest to zero dim rows, so
  they vanish from every plane sum identically on both engines:
  ``embeddings`` becomes 300 real dim-16 vectors plus 131,073 empty
  lists, which forces 13 bits / 50 bands (the first extension step)
  while the signature, candidate and verify math runs on 300 vectors.
  Check it with ``preflight_sweep.py dedup_embedding_near,
  ann_knn_join_all,dedup_embedding_clusters --fixture ext_region``.
"""

from __future__ import annotations

import tempfile

import duckdb

from os___mapreduceframework_spark.operators.minhash import (
    emb_adaptive_bands,
    emb_adaptive_bits,
)
from os___mapreduceframework_spark.sources import TABLES

# the cardinality shapes; only these may refuse a bucket-anchored query
# with the documented "timestamp bounds are undefined" error
DEGENERATE = ("empty", "one", "dup", "conflict")
KINDS = ("adversarial",) + DEGENERATE + ("ext_region",)

# ext_region embeddings: md5-derived components in [-1, 1)
# (deterministic, engine-independent); every id = 1 mod 50 is a
# near-twin of the id before it, so the verify stage has real matches.
# Then 131,073 empty lists (the first count past the round-6 cap).
_EXT_EMBEDDINGS = """
  SELECT i AS vec_id,
         list(CASE WHEN i % 50 = 1 THEN v * 0.97::DOUBLE + 0.01::DOUBLE
                   ELSE v END ORDER BY d) AS embedding,
         'ext' AS label
  FROM (SELECT i, d,
               (('0x' || md5((i - (i % 50 = 1)::BIGINT) || '_' || d)[1:8])
                  ::BIGINT % 2000)::DOUBLE / 1000 - 1 AS v
        FROM range(300) r(i), range(16) s(d))
  GROUP BY i
  UNION ALL
  SELECT 1000000 + i, []::DOUBLE[], 'ext' FROM range(131073) r(i)
"""

# extra rows per table for the adversarial fixture, as UNION ALL arms
# over the view ``src`` (the base table); ts stays non-null for
# watermarks
_EDGE_ROWS = {
    "documents": """
      SELECT * FROM (VALUES
        ((SELECT max(doc_id) + 1 FROM src), '', 'en', 'src0', 0::BIGINT),
        ((SELECT max(doc_id) + 2 FROM src), 'word', 'en', NULL, 4::BIGINT),
        ((SELECT max(doc_id) + 3 FROM src),
         (SELECT text FROM src WHERE doc_id = 0),
         'en', 'src1',
         (SELECT n_chars FROM src WHERE doc_id = 0)),
        ((SELECT max(doc_id) + 4 FROM src), 'a b', NULL, 'src2', 3::BIGINT),
        ((SELECT max(doc_id) + 5 FROM src), '   ', 'en', 'src0', 3::BIGINT),
        ((SELECT max(doc_id) + 6 FROM src), 'héllo wörld ünïcode tæxt みんな', 'de', 'src1', 29::BIGINT),
        -- NULL text: a failed fetch/decode row; split/explode/md5 must
        -- agree engine-to-engine on skipping vs propagating it
        ((SELECT max(doc_id) + 7 FROM src), NULL, 'en', 'src0', 0::BIGINT),
        -- pathological docs: a LONG highly self-repetitive doc (1600
        -- tokens, every span window duplicated hundreds of times -- the
        -- boilerplate page shape), a whitespace-run doc (split(' ')
        -- emits EMPTY tokens on both engines), and a single 5000-char
        -- token (no spaces at all)
        ((SELECT max(doc_id) + 8 FROM src),
         trim(repeat('spam ham eggs bacon ', 400)), 'en', 'src1', 7999::BIGINT),
        ((SELECT max(doc_id) + 9 FROM src),
         'a  b ' || chr(9) || ' c  ', 'en', 'src2', 9::BIGINT),
        ((SELECT max(doc_id) + 10 FROM src),
         repeat('x', 5000), 'en', 'src0', 5000::BIGINT),
        -- one replayed doc (two rows, one doc_id) whose top bigram sits
        -- just over the repetition gate: a per-doc stat that joins
        -- bigram counts back to token rows counts it once per copy
        ((SELECT max(doc_id) + 11 FROM src),
         'a b a b c d e f g h', 'en', 'src1', 19::BIGINT),
        ((SELECT max(doc_id) + 11 FROM src),
         'a b a b c d e f g h', 'en', 'src1', 19::BIGINT)
      ) v(doc_id, text, lang, source, n_chars)
    """,
    "events": """
      -- duplicate (user_id, ts) pair with a distinct event_id
      SELECT (SELECT max(event_id) + 1 FROM src), ts, user_id,
             event_type, value, props
      FROM src WHERE event_id = 0
      UNION ALL
      SELECT (SELECT max(event_id) + 2 FROM src), ts, user_id, NULL, NULL, NULL
      FROM src WHERE event_id = 1
      UNION ALL
      -- FK-orphan user_id
      SELECT (SELECT max(event_id) + 3 FROM src), ts, 999999999::BIGINT, 'view',
             value, props
      FROM src WHERE event_id = 2
      UNION ALL
      -- out-of-histogram-domain values: clamping paths on both engines
      -- must agree (negative and >1000)
      SELECT (SELECT max(event_id) + 4 FROM src), ts, user_id, event_type,
             -5.5, props
      FROM src WHERE event_id = 3
      UNION ALL
      SELECT (SELECT max(event_id) + 5 FROM src), ts, user_id, event_type,
             123456.75, props
      FROM src WHERE event_id = 4
      UNION ALL
      -- IEEE specials: Spark and DuckDB differ subtly on NaN (Spark:
      -- NaN==NaN in group/join keys and sorts LAST; DuckDB: NaN groups
      -- too and sorts last) and on Inf arithmetic (Inf-Inf=NaN in both)
      -- -- any aggregate/histogram/clamp path that disagrees shows up as
      -- a hash mismatch here
      SELECT (SELECT max(event_id) + 6 FROM src), ts, user_id, event_type,
             'NaN'::DOUBLE, props
      FROM src WHERE event_id = 5
      UNION ALL
      SELECT (SELECT max(event_id) + 7 FROM src), ts, user_id, event_type,
             'Infinity'::DOUBLE, props
      FROM src WHERE event_id = 6
      UNION ALL
      SELECT (SELECT max(event_id) + 8 FROM src), ts, user_id, event_type,
             '-Infinity'::DOUBLE, props
      FROM src WHERE event_id = 7
      UNION ALL
      -- clock-skew rows: a NEGATIVE-epoch timestamp (pre-1970 client
      -- clock) and a far-future one. Negative epoch micros are where
      -- truncating vs flooring integer division, lpad'd string sort
      -- keys, and time-bucket anchors diverge between engines; the
      -- future row stretches every (min ts, max ts)-derived grid/origin
      SELECT (SELECT max(event_id) + 9 FROM src),
             TIMESTAMP '1969-06-01 12:34:56', user_id,
             event_type, value, props
      FROM src WHERE event_id = 8
      UNION ALL
      SELECT (SELECT max(event_id) + 10 FROM src),
             TIMESTAMP '2098-07-04 08:00:00', user_id,
             event_type, value, props
      FROM src WHERE event_id = 9
    """,
    "embeddings": """
      -- ZERO vector: cosine is undefined -- both engines must agree it
      -- is NULL, not NaN vs DuckDB's -1.0
      SELECT (SELECT max(vec_id) + 1 FROM src),
             list_transform(embedding, x -> 0.0::FLOAT), label
      FROM src WHERE vec_id = 0
      UNION ALL
      -- exact duplicate of vec 0 (cos == 1.0 ties)
      SELECT (SELECT max(vec_id) + 2 FROM src), embedding, label
      FROM src WHERE vec_id = 0
      UNION ALL
      -- huge-magnitude vector: quantization/normalization paths must
      -- not silently overflow or diverge
      SELECT (SELECT max(vec_id) + 3 FROM src),
             list_transform(embedding, x -> x * 1000000.0::FLOAT), label
      FROM src WHERE vec_id = 1
      UNION ALL
      -- NULL vector (failed encoder): every embedding consumer must
      -- either skip it like the oracle's unnest does or agree
      -- engine-to-engine on its NULL propagation
      SELECT (SELECT max(vec_id) + 4 FROM src), NULL::FLOAT[], label
      FROM src WHERE vec_id = 2
    """,
    # dimension rows with every non-key attribute NULL: NULL nationkey
    # breaks the dim->dim hop, NULL mktsegment is a NULL group/filter
    # key, NULL acctbal a NULL measure in dim-side aggregates
    "customer": """
      SELECT (SELECT max(c_custkey) + 1 FROM src),
             'Customer#null', NULL::INTEGER, NULL::DOUBLE, NULL::VARCHAR
    """,
    "supplier": """
      SELECT (SELECT max(s_suppkey) + 1 FROM src),
             'Supplier#null', NULL::INTEGER, NULL::DOUBLE
    """,
    # NULL type/size/price: p_type feeds LIKE filters and grouping,
    # p_size range predicates, retailprice sums
    "part": """
      SELECT (SELECT max(p_partkey) + 1 FROM src),
             'null part', (SELECT p_brand FROM src LIMIT 1),
             NULL::VARCHAR, NULL::INTEGER, NULL::DOUBLE
    """,
    # NULL FK + NULL measure: a half-ingested order. NULL custkey must
    # behave identically in joins (never matches), outer joins (row
    # kept), grouping (NULLs group together) and windows on both engines
    "orders": """
      SELECT (SELECT max(o_orderkey) + 1 FROM src),
             NULL::BIGINT, o_orderstatus, NULL::DOUBLE,
             ts, o_orderpriority
      FROM (SELECT o_orderstatus, o_orderdate AS ts, o_orderpriority
            FROM src LIMIT 1)
    """,
    # FK-orphan line (points at the NULL-custkey order's key space) with
    # NULL part/supp keys and NULL price
    "lineitem": """
      SELECT (SELECT max(l_orderkey) + 999 FROM src),
             NULL::BIGINT, NULL::BIGINT, 1,
             l_quantity, NULL::DOUBLE, l_discount, l_tax,
             l_returnflag, l_linestatus, l_shipdate
      FROM src LIMIT 1
    """,
}

# deterministic "first" row per table so the singleton fixture is stable
_ORDER_KEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# the conflict copy keeps every key/FK but perturbs payload columns.
# Deltas are exactly representable in binary (0.25, 2^-10) so value
# hashing stays exact.
_CONFLICT_SELECT = {
    "region": "r_regionkey, r_name || '~' AS r_name",
    "nation": "n_nationkey, n_name || '~' AS n_name, n_regionkey",
    "customer": "c_custkey, c_name || '~' AS c_name, c_nationkey, "
    "c_acctbal + 0.25 AS c_acctbal, c_mktsegment",
    "supplier": "s_suppkey, s_name || '~' AS s_name, s_nationkey, "
    "s_acctbal + 0.25 AS s_acctbal",
    "part": "p_partkey, p_name || '~' AS p_name, p_brand, p_type, "
    "p_size, p_retailprice + 0.25 AS p_retailprice",
    "orders": "o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice + 0.25 AS o_totalprice, o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber, "
    "l_quantity + 0.25 AS l_quantity, "
    "l_extendedprice + 0.25 AS l_extendedprice, l_discount, l_tax, "
    "l_returnflag, l_linestatus, l_shipdate",
    "events": "event_id, ts, user_id, event_type, "
    "value + 0.25 AS value, props",
    "documents": "doc_id, text || ' conflictmark' AS text, lang, "
    "source, n_chars",
    "embeddings": "vec_id, list_transform(embedding, "
    "x -> CAST(x + 0.0009765625 AS FLOAT)) AS embedding, label",
}


def _select(kind: str, table: str) -> str:
    """The query over view ``src`` that produces ``table`` for ``kind``."""
    if kind == "ext_region":
        return _EXT_EMBEDDINGS if table == "embeddings" else "SELECT * FROM src"
    if kind == "adversarial":
        edge = _EDGE_ROWS.get(table)
        return f"SELECT * FROM src UNION ALL {edge}" if edge else "SELECT * FROM src"
    if kind == "empty":
        return "SELECT * FROM src WHERE 1=0"
    if kind == "one":
        return f"SELECT * FROM src ORDER BY {_ORDER_KEY[table]} LIMIT 1"
    if kind == "dup":
        return "SELECT * FROM src UNION ALL SELECT * FROM src"
    return f"SELECT * FROM src UNION ALL SELECT {_CONFLICT_SELECT[table]} FROM src"


def build(kind: str, base_dir: str) -> str:
    """Write the ``kind`` fixture built from ``base_dir`` into a new
    temporary dir and return it; the caller removes it."""
    if kind not in KINDS:
        raise ValueError(f"unknown fixture kind {kind!r}; expected one of {KINDS}")
    out = tempfile.mkdtemp(prefix=f"sf_{kind}_")
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW src AS "
                f"SELECT * FROM read_parquet('{base_dir}/{t}.parquet')"
            )
            con.execute(
                f"COPY ({_select(kind, t)}) TO '{out}/{t}.parquet' (FORMAT parquet)"
            )
        if kind == "ext_region":
            (n,) = con.execute(
                f"SELECT COUNT(DISTINCT vec_id) FROM '{out}/embeddings.parquet'"
            ).fetchone()
            if (emb_adaptive_bits(n), emb_adaptive_bands(n)) != (13, 50):
                raise ValueError(
                    f"ext_region: {n} vectors give {emb_adaptive_bits(n)} bits / "
                    f"{emb_adaptive_bands(n)} bands, not the 13 / 50 extension step"
                )
    return out
