#!/usr/bin/env python
"""Offline audits of the embedding LSH and ANN paths against exact
ground truth, one subcommand per audit. Each runs the PRODUCTION
candidate/serving path (arguments verbatim from the registered query,
except the audited knob) and compares it with truth computed in blocked
float64 numpy: O(n^2) work the engine itself must never do, which is
why it lives here.

lsh    measured recall of the banded hyperplane LSH pair generator
       (``embedding_scored_pairs``) across the adaptive bits+bands
       regimes, for either pinned band table (``--family``).
cands  the candidate volume those band tables hand the verify join.
ann    measured recall of the ANN serving families (IVF top-k, PQ/ADC
       top-k).

The synthetic fixture space tops out near cos 0.6 and is near-uniform
(the documented ANN worst case), so ``lsh --family strict`` and ``ann``
first PLANT near-dups (``plant``): one perturbed copy per chosen base
at an exact float64 target cosine in [PLANT_LO, PLANT_HI]. Truth is
always recomputed from the STORED float32 vectors, never trusted from
the targets. Zero-norm vectors are dropped from the truth side: cosine
is undefined and the engine scores them NULL.

Usage:
    python scripts/recall_audit.py lsh [--family calibration|strict]
        [--dirs DIR...] [--out SCALE_recall.json]
    python scripts/recall_audit.py cands [--family calibration|strict]
        [--dirs DIR...] [--count-pairs-max N] [--out SCALE_r07_cands.json]
    python scripts/recall_audit.py ann [--dirs DIR...] [--families ivf pq]
        [--out SCALE_r09_recall_ann.json]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from os___mapreduceframework_spark.operators.dedup import EMB_STRICT_REPORT_FLOOR
from os___mapreduceframework_spark.operators.minhash import (
    EMB_STRICT_THRESHOLD,
    LSH_BUCKET_CAP,
    bucket_pairs,
    canonical_embeddings,
    emb_adaptive_bands,
    emb_adaptive_bits,
    emb_strict_bands,
    embedding_band_buckets,
    embedding_scored_pairs,
)
from os___mapreduceframework_spark.operators.scale import (
    IVF_K,
    IVF_PROBE,
    IVF_TOP_K,
    ivf_index,
    ivf_topk,
)
from os___mapreduceframework_spark.operators.similarity import (
    K_MEANS_K,
    TOP_K,
    pq_adc_detail_topk,
)
from os___mapreduceframework_spark.session import get_session
from scale_run import SCALE_ROOT, SF01, log, timed, write_record

CHUNK = 2048
# Copies never share a base, and most targets sit above the strict 0.90
# threshold (the recall population) with the rest a hard-negative band
# just under it, so the just-under band exercises the boundary.
PLANT_LO, PLANT_HI = 0.85, 0.995
PLANT_FRACTION = 0.05  # lsh: copies per corpus vector
LSH_PLANT_SEED = 8
ANN_PLANT_SEED = 9
NQ_AUDIT = 100  # ann: audit-widened query set (production N_QUERIES=5
#                 is too coarse for a recall curve: 50 neighbor slots)


def load_vectors(path: str):
    """(vec_ids, float64 vectors) of an embeddings.parquet."""
    t = pq.read_table(path)
    ids = np.asarray(t.column("vec_id").to_pandas(), dtype=np.int64)
    X = np.stack(t.column("embedding").to_pandas().values).astype(np.float64)
    assert len(np.unique(ids)) == len(ids), "audit expects unique vec_ids"
    return ids, X


def sample_bases(ids, norms, rng):
    """lsh: a seeded sample of PLANT_FRACTION of the nonzero rows (at
    least 100)."""
    eligible = np.nonzero(norms > 0)[0]
    k = max(100, int(len(ids) * PLANT_FRACTION))
    return rng.choice(eligible, size=min(k, len(eligible)), replace=False)


def query_bases(ids, norms, rng):
    """ann: every nonzero query vector (vec_id < NQ_AUDIT), so each
    planted pair is (query, its true nearest neighbor)."""
    return np.nonzero((ids < NQ_AUDIT) & (norms > 0))[0]


PLANTING = {"lsh": (sample_bases, LSH_PLANT_SEED), "ann": (query_bases, ANN_PLANT_SEED)}


def plant(src_dir: str, out_path: str, pick, seed: int) -> np.ndarray:
    """Write ``src_dir``'s embeddings plus one perturbed copy of each
    base row ``pick(ids, norms, rng)`` chooses, under fresh vec_ids past
    the max, and return the (base_id, copy_id) pairs. The copy of unit
    base u is norm(base) * (c*u + sqrt(1-c^2)*r_perp) stored as float32:
    exact target cosine c in float64, so the stored cosine lands within
    float32 rounding of c. Keeping the base's norm makes the copy its
    base's true nearest neighbor under cosine AND squared L2."""
    ids, X = load_vectors(os.path.join(src_dir, "embeddings.parquet"))
    norms = np.linalg.norm(X, axis=1)
    rng = np.random.default_rng(seed)
    idx = pick(ids, norms, rng)
    targets = rng.uniform(PLANT_LO, PLANT_HI, size=len(idx))
    U = X[idx] / norms[idx, None]
    R = rng.standard_normal(U.shape)
    R -= (R * U).sum(axis=1, keepdims=True) * U
    R /= np.linalg.norm(R, axis=1, keepdims=True)
    W = targets[:, None] * U + np.sqrt(1.0 - targets**2)[:, None] * R
    copies = (W * norms[idx, None]).astype(np.float32)
    new_ids = ids.max() + 1 + np.arange(len(idx), dtype=np.int64)
    vecs = np.concatenate([X.astype(np.float32), copies])
    out = pa.table(
        {
            "vec_id": pa.array(np.concatenate([ids, new_ids]), type=pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], type=pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(out, out_path)
    return np.stack([ids[idx], new_ids], axis=1)


def spark_vectors(spark, path: str):
    return spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def bands_for(family: str):
    """The pinned band table: 0.45-threshold calibration
    (``emb_adaptive_bands``) or 0.90 production-threshold strict
    (``emb_strict_bands``)."""
    return emb_strict_bands if family == "strict" else emb_adaptive_bands


# -- lsh -------------------------------------------------------------------


def true_pairs(path: str, threshold: float):
    """(lo_ids, hi_ids, cosines) of exact pairs with
    round4(cos) >= threshold (the registered queries' verification
    rule), plus (n_kept, n_zero_dropped)."""
    ids, X = load_vectors(path)
    norms = np.linalg.norm(X, axis=1)
    keep = norms > 0
    n_zero = int((~keep).sum())
    ids, X, norms = ids[keep], X[keep], norms[keep]
    Xn = X / norms[:, None]
    n = len(ids)
    out_a, out_b = [], []
    for lo in range(0, n, CHUNK):
        g = np.round(Xn[lo:lo + CHUNK] @ Xn.T, 4)  # (chunk, n) f64 BLAS
        ii, jj = np.nonzero(g >= threshold)
        gi = ii + lo
        upper = jj > gi  # strict upper triangle
        out_a.append(gi[upper])
        out_b.append(jj[upper])
    a_idx = np.concatenate(out_a)
    b_idx = np.concatenate(out_b)
    va, vb = ids[a_idx], ids[b_idx]
    cs = np.einsum("ij,ij->i", Xn[a_idx], Xn[b_idx])
    # the engine's pair orientation is (smaller vec_id, larger vec_id)
    return np.minimum(va, vb), np.maximum(va, vb), cs, n, n_zero


def model_recall(cos: np.ndarray, bits: int, bands: int) -> float:
    """Expected recall over the true-pair population under the ideal
    random-hyperplane collision model: per-plane agreement
    p(c) = 1 - acos(c)/pi, band collision p^bits, any-of-L bands."""
    p = 1.0 - np.arccos(np.clip(cos, -1.0, 1.0)) / np.pi
    return float(np.mean(1.0 - (1.0 - p**bits) ** bands))


def cmd_lsh(spark, args) -> int:
    """Recall = 1 - missed/true per fixture, vs the collision model's
    expectation over the SAME truth population.

    calibration (threshold 0.45): the joint bits+bands knob claims bands
    grow to HOLD recall as bits uncap past 12. tests/test_round7_props.py
    pins the band table as the minimal recall-holding schedule under the
    collision model, and tests/test_pipeline_ops.py pins fixture-scale
    recall in the 6-bit regime; this measures the extension regimes the
    knob added (10 bits at 20k vectors, 13 bits / 50 bands at 200k).

    strict (threshold 0.90): the production near-dup path
    (dedup_embedding_near_strict) over planted pairs, with the strict
    band table and the min_cs audit-floor pushdown it passes. A 0.90
    truth over the raw fixture would be vacuous (zero true pairs)."""
    strict = args.family == "strict"
    threshold = EMB_STRICT_THRESHOLD if strict else 0.45
    nbands = bands_for(args.family)
    report = {"threshold": threshold, "family": args.family, "dirs": {}}
    if strict:
        report["planting"] = {
            "fraction": PLANT_FRACTION,
            "cosine_range": [PLANT_LO, PLANT_HI],
            "seed": LSH_PLANT_SEED,
            "note": "fixture space tops near cos 0.6 — a 0.90 truth "
            "needs planted pairs; targets straddle the threshold so "
            "the just-under band exercises the boundary",
        }
    for d in args.dirs:
        with tempfile.TemporaryDirectory(prefix="recall_") as tmp:
            emb_path = os.path.join(d, "embeddings.parquet")
            n_planted = 0
            if strict:
                emb_path = os.path.join(tmp, "embeddings.parquet")
                n_planted = len(plant(d, emb_path, *PLANTING["lsh"]))
            (lo_id, hi_id, cs, n, n_zero), truth_sec = timed(
                lambda: true_pairs(emb_path, threshold)
            )
            path = os.path.join(tmp, "truth.parquet")
            pq.write_table(pa.table({"id_a": lo_id, "id_b": hi_id}), path)
            truth = spark.read.parquet(path)

            emb = canonical_embeddings(spark_vectors(spark, emb_path)).localCheckpoint(
                eager=False
            )
            n_total = n + n_zero
            cand = embedding_scored_pairs(
                emb,
                n_vectors=n_total,
                nbands=nbands(n_total),
                # the audited path is the production path: arguments
                # verbatim from q_dedup_embedding_near_strict
                min_cs=EMB_STRICT_REPORT_FLOOR if strict else None,
            ).select("id_a", "id_b")
            missed, cand_sec = timed(
                lambda: truth.join(cand, ["id_a", "id_b"], "left_anti").count()
            )

        n_true = int(len(lo_id))
        bits, bands = emb_adaptive_bits(n_total), nbands(n_total)
        entry = {
            "n": n,
            "n_planted": n_planted,
            "n_zero_norm_dropped": n_zero,
            "nbits": bits,
            "nbands": bands,
            "true_pairs": n_true,
            "missed": int(missed),
            "recall": round(1.0 - missed / n_true, 4) if n_true else None,
            # the model's prediction for THIS truth population (its
            # cosine distribution, not just the at-threshold floor):
            # measured >= model says the banding delivers its designed
            # recall
            "model_expected_recall": (
                round(model_recall(cs, bits, bands), 4) if n_true else None
            ),
            "model_floor_at_threshold": (
                round(model_recall(np.array([threshold]), bits, bands), 4)
            ),
            "truth_sec": truth_sec,
            "cand_anti_join_sec": cand_sec,
        }
        report["dirs"][d] = entry
        log(d, entry)

    write_record(report, args.out, {"out": args.out})
    return 0


# -- cands -----------------------------------------------------------------


def cmd_cands(spark, args) -> int:
    """Per fixture, band the canonical corpus with the production
    parameters and report n, nbits, nbands and:

      * candidates: the EXACT pair volume the verify join sees, from
        per-(band, bucket) sizes by the capped-pairs arithmetic (one
        groupBy over the band rows, no pair materialization);
      * cand_per_vec: the scaling-law readout. Flat or gently growing
        per octave means sublinear aggregate verify cost; linear growth
        is the r6 cap regime (SCALE_r06_300x.json);
      * verify_pairs: the DISTINCT pair count (what survives the pairs
        union's de-dup) when the volume is small enough to count; null
        when skipped.

    The strict table is the SemDeDup-regime curve, ~5-10x fewer
    candidates at the same adaptive bit widths."""
    cap = LSH_BUCKET_CAP
    nbands = bands_for(args.family)
    report = {"cap": cap, "family": args.family, "dirs": {}}
    for d in args.dirs:

        def diag():
            emb = canonical_embeddings(
                spark_vectors(spark, os.path.join(d, "embeddings.parquet"))
            ).localCheckpoint(eager=False)
            n = emb.count()
            head = emb.select("e").filter(F.size("e") > 0).head()
            dim = len(head["e"]) if head else 0
            # the band count is passed explicitly: the recorded nbands
            # must be the one the bands were built with, even if the
            # callee's own default ever changed
            bands = embedding_band_buckets(emb, dim=dim, n_vectors=n, nbands=nbands(n))
            # per bucket of size m: (m // cap) full sub-buckets of
            # C(cap,2) pairs, the remainder's C(m % cap, 2), and
            # ceil(m/cap) - 1 bridges
            m = F.col("m")
            row = (
                bands.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("m"))
                .select(
                    F.sum(
                        F.floor(m / cap) * (cap * (cap - 1) // 2)
                        + (m % cap) * ((m % cap) - 1) / 2
                        + F.ceil(m / cap)
                        - 1
                    ).alias("cands"),
                    F.sum(m * (m - 1) / 2).alias("uncapped"),
                    F.count(F.lit(1)).alias("n_buckets"),
                    F.max("m").alias("max_bucket"),
                )
                .collect()[0]
            )
            return n, dim, bands, row

        (n, dim, bands, row), diag_sec = timed(diag)
        cands = int(row["cands"])
        entry = {
            "n": n,
            "dim": dim,
            "nbits": emb_adaptive_bits(n),
            "nbands": nbands(n),
            "candidates": cands,
            "uncapped_pairs": int(row["uncapped"]),
            "n_buckets": int(row["n_buckets"]),
            "max_bucket": int(row["max_bucket"]),
            "cand_per_vec": round(cands / n, 1) if n else None,
            "diag_sec": diag_sec,
            "verify_pairs": None,
        }
        if cands <= args.count_pairs_max:
            entry["verify_pairs"], entry["verify_pairs_sec"] = timed(
                lambda: bucket_pairs(bands, "vec_id", ("band", "bucket")).count()
            )
        report["dirs"][d] = entry
        log(d, entry)

    write_record(report, args.out)
    return 0


# -- ann -------------------------------------------------------------------

IVF_NPROBES = [1, 2, 4, 8]
PQ_KS = [4, 8, 16]  # 4 == production K_MEANS_K (at n_subspaces=2)
PQ_MS = [4, 8]  # subspace sweep at k=16: distortion falls with subspace
#                 dimensionality, the knob a real IVF-PQ deployment turns
PQ_M_K = 16
COVERAGE_TOL = 0.02  # |measured - coverage| beyond this = serving bug


def exact_topk(ids, X, metric: str, top_k: int):
    """{query_id: [neighbor ids]}: exact top-k per query (vec_id <
    NQ_AUDIT, nonzero norm for cosine) in each family's own ranking
    metric (cosine for IVF, squared L2 for PQ), with the production
    rounding (6 places) and tie rule (vec_id asc), self excluded.
    Zero-norm corpus rows are unreachable under cosine."""
    norms = np.linalg.norm(X, axis=1)
    q_idx = np.nonzero((ids < NQ_AUDIT) & (norms > 0))[0]
    truth = {}
    if metric == "cos":
        Xn = np.where(norms[:, None] > 0, X / np.maximum(norms, 1e-300)[:, None], 0.0)
        S = np.round(Xn[q_idx] @ Xn.T, 6)
        S[:, norms == 0] = -np.inf
    else:  # squared L2
        sq = (X * X).sum(axis=1)
        S = sq[q_idx, None] + sq[None, :] - 2.0 * (X[q_idx] @ X.T)
        S = np.round(np.maximum(S, 0.0), 6)
    for r, qi in enumerate(q_idx):
        scores = S[r].copy()
        scores[qi] = -np.inf if metric == "cos" else np.inf
        key = -scores if metric == "cos" else scores
        order = np.lexsort((ids, key))
        truth[int(ids[qi])] = [int(v) for v in ids[order[:top_k]]]
    return truth


def recall_against(truth: dict, served: dict) -> float:
    tot = sum(len(v) for v in truth.values())
    hits = sum(len(set(v) & set(served.get(q, []))) for q, v in truth.items())
    return round(hits / tot, 4) if tot else None


def planted_recall(pairs: np.ndarray, served: dict) -> float:
    hits = sum(1 for b, c in pairs if int(c) in set(served.get(int(b), [])))
    return round(hits / len(pairs), 4) if len(pairs) else None


def collect_served(df) -> dict:
    out: dict[int, list[int]] = {}
    for r in df.select("query_id", "vec_id").collect():
        out.setdefault(int(r.query_id), []).append(int(r.vec_id))
    return out


def ivf_probe_sets(Q, centroids: dict, nprobe: int):
    """Probed cells per query, the production rule recomputed
    independently: cosine(query, centroid) desc, cell asc tiebreak."""
    cells = sorted(centroids)
    C = np.stack([centroids[c] for c in cells])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1), 1e-300)[:, None]
    out = {}
    for qid, q in Q.items():
        qn = q / max(np.linalg.norm(q), 1e-300)
        order = np.lexsort((cells, -(Cn @ qn)))
        out[qid] = {cells[i] for i in order[:nprobe]}
    return out


def ivf_entry(spark, emb_path, ids, X, pairs):
    """IVF scores EXACTLY inside the probed cells, so measured recall
    must EQUAL cell coverage (the fraction of true neighbors assigned to
    a probed cell, recomputed in numpy from the trained centroids and
    assignments); a gap beyond COVERAGE_TOL is a serving bug (lost
    candidates), not an approximation. The nprobe sweep traces the
    recall-vs-work curve; nprobe = IVF_K probes every cell, which IS
    brute force and must give recall 1.0."""
    Q = {
        int(ids[i]): X[i]
        for i in np.nonzero(ids < NQ_AUDIT)[0]
        if np.linalg.norm(X[i]) > 0
    }
    truth = exact_topk(ids, X, "cos", IVF_TOP_K)
    emb = spark_vectors(spark, emb_path).localCheckpoint(eager=False)
    assignments, centroids = ivf_index(emb)
    assignments = assignments.localCheckpoint()
    cent = {
        int(r.cell): np.array(r.centroid, dtype=np.float64)
        for r in centroids.collect()
    }
    cell_of = {int(r.vec_id): int(r.cell) for r in assignments.collect()}
    entry = {"n": len(ids), "dim": int(X.shape[1]), "nprobe": {}}
    for p in IVF_NPROBES:
        served, sec = timed(lambda: collect_served(
            ivf_topk(emb, assignments, centroids, n_queries=NQ_AUDIT, nprobe=p)
        ))
        probes = ivf_probe_sets(Q, cent, p)
        hits = [cell_of[v] in probes[q] for q, vs in truth.items() for v in vs]
        cov_full = round(sum(hits) / len(hits), 4)
        cov_planted = sum(cell_of[int(c)] in probes[int(b)] for b, c in pairs) / len(pairs)
        rf, rp = recall_against(truth, served), planted_recall(pairs, served)
        entry["nprobe"][p] = {
            "recall_full": rf,
            "coverage_full": cov_full,
            "recall_planted": rp,
            "coverage_planted": round(cov_planted, 4),
            "serve_sec": sec,
            "recall_equals_coverage": bool(
                abs(rf - cov_full) <= COVERAGE_TOL
                and abs(rp - cov_planted) <= COVERAGE_TOL
            ),
        }
    entry["full_probe_is_bruteforce"] = (
        entry["nprobe"][IVF_K]["recall_full"] >= 0.999
        if IVF_K in entry["nprobe"] else None
    )
    return entry


def pq_entry(spark, fixture_dir, ids, X, pairs):
    """PQ ADC error is bounded by quantization distortion, so the sweep
    is codebook size k (codes per subspace): distortion must fall and
    planted recall rise monotonically as k grows. Each recall is paired
    with the distortion of the SAME trained codebooks
    (``pq_adc_detail_topk(with_distortion=True)``). A second sweep varies
    the subspace count M at k = PQ_M_K (M=2, the registered instance, is
    the k_codes point at PQ_M_K)."""
    truth = exact_topk(ids, X, "l2", TOP_K)
    mean_sq_norm = float(np.mean((X * X).sum(axis=1)))

    def point(k, m=2):
        def serve():
            topk, dist = pq_adc_detail_topk(
                spark, fixture_dir, k=k, n_queries=NQ_AUDIT,
                with_distortion=True, n_subspaces=m,
            )
            mean_dist = float(
                dist.groupBy("vec_id").agg(F.sum("dist").alias("d"))
                .agg(F.avg("d")).collect()[0][0]
            )
            return collect_served(topk), mean_dist

        (served, mean_dist), sec = timed(serve)
        return {
            "recall_full": recall_against(truth, served),
            "recall_planted": planted_recall(pairs, served),
            "mean_distortion": round(mean_dist, 4),
            "rel_distortion": round(mean_dist / mean_sq_norm, 4),
            "serve_sec": sec,
        }

    entry = {"n": len(ids), "dim": int(X.shape[1]),
             "mean_sq_norm": round(mean_sq_norm, 2),
             "k_codes": {kc: point(kc) for kc in PQ_KS},
             "m_subspaces": {m: {"k_codes": PQ_M_K, **point(PQ_M_K, m)} for m in PQ_MS}}
    ks = sorted(entry["k_codes"])
    entry["distortion_monotone_down"] = all(
        entry["k_codes"][a]["mean_distortion"] >= entry["k_codes"][b]["mean_distortion"]
        for a, b in zip(ks, ks[1:])
    )
    entry["planted_recall_monotone_up"] = all(
        entry["k_codes"][a]["recall_planted"]
        <= entry["k_codes"][b]["recall_planted"] + COVERAGE_TOL
        for a, b in zip(ks, ks[1:])
    )
    return entry


def cmd_ann(spark, args) -> int:
    """The serving-side complement of ``lsh``: IVF (``ivf_topk``) and
    PQ/ADC (``pq_adc_detail_topk``) through their production paths,
    widened to NQ_AUDIT queries, against two truth populations per
    fixture:

      * FULL truth: exact top-K of each query over the whole corpus. The
        near-uniform fixture makes this the harsh regime
        (IVF_RECALL_FLOOR's rationale).
      * PLANTED truth: one near-dup copy per query vector, the
        structured regime real corpora have and ANN indexes exist for."""
    report = {
        "n_queries": NQ_AUDIT,
        "planting": {
            "cosine_range": [PLANT_LO, PLANT_HI],
            "seed": ANN_PLANT_SEED,
            "note": "one copy per query vector at an exact target "
            "cosine, same norm as its base -> the base's true nearest "
            "neighbor under both metrics; the structured regime ANN "
            "indexes exist for (the raw fixture is near-uniform, the "
            "documented worst case)",
        },
        "ivf": {"cells": IVF_K, "top_k": IVF_TOP_K,
                "production_nprobe": IVF_PROBE, "dirs": {}},
        "pq": {"subspaces": 2, "top_k": TOP_K,
               "production_k_codes": K_MEANS_K, "dirs": {}},
    }
    for d in args.dirs:
        with tempfile.TemporaryDirectory(prefix="ann_recall_") as tmp:
            emb_path = os.path.join(tmp, "embeddings.parquet")
            pairs = plant(d, emb_path, *PLANTING["ann"])
            ids, X = load_vectors(emb_path)
            entries = {}
            if "ivf" in args.families:
                entries["ivf"] = ivf_entry(spark, emb_path, ids, X, pairs)
            if "pq" in args.families:
                entries["pq"] = pq_entry(spark, tmp, ids, X, pairs)
        for fam, entry in entries.items():
            report[fam]["dirs"][d] = entry
            log(f"{fam} {d}", entry)

    write_record(report, args.out, {"out": args.out})
    return 0


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    family = dict(
        choices=["calibration", "strict"],
        default="calibration",
        help="band table: the 0.45-threshold calibration table "
        "(emb_adaptive_bands) or the 0.90 production-threshold strict "
        "table (emb_strict_bands)",
    )

    p = sub.add_parser("lsh", help="LSH pair-generator recall vs exact truth")
    p.add_argument("--dirs", nargs="+",
                   default=[SF01, f"{SCALE_ROOT}/sf1.0", f"{SCALE_ROOT}/sf10emb"])
    p.add_argument("--out", default="SCALE_recall.json")
    p.add_argument("--family", **family)
    p.set_defaults(func=cmd_lsh)

    p = sub.add_parser("cands", help="LSH candidate volume per fixture")
    p.add_argument("--dirs", nargs="+",
                   default=[SF01, f"{SCALE_ROOT}/sf1.0", f"{SCALE_ROOT}/sf10emb",
                            f"{SCALE_ROOT}/sf30emb"])
    p.add_argument("--out", default="SCALE_r07_cands.json")
    p.add_argument(
        "--count-pairs-max",
        type=int,
        default=300_000_000,
        help="materialize the distinct pair count only when the "
        "arithmetic candidate volume is at or below this",
    )
    p.add_argument("--family", **family)
    p.set_defaults(func=cmd_cands)

    p = sub.add_parser("ann", help="IVF / PQ serving recall vs exact truth")
    p.add_argument("--dirs", nargs="+",
                   default=[SF01, f"{SCALE_ROOT}/sf1.0", f"{SCALE_ROOT}/sf100emb"])
    p.add_argument("--out", default="SCALE_r09_recall_ann.json")
    p.add_argument("--families", nargs="+", default=["ivf", "pq"])
    p.set_defaults(func=cmd_ann)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    return args.func(get_session(app_name=f"recall_audit_{args.cmd}"), args)


if __name__ == "__main__":
    raise SystemExit(main())
