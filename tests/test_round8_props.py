"""Round-8 property pins.

1. ``embedding_scored_pairs`` rejects the min_cs + dedup=False mix
   (ADVICE r7: a dup-invariant consumer passing a floor would silently
   truncate neighbor lists below it -- no caller may combine them).
"""

from __future__ import annotations

import pytest

from os___mapreduceframework_spark.operators.minhash import (
    embedding_scored_pairs,
)


def test_scored_pairs_reject_min_cs_without_dedup(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, e array<double>"
    )
    with pytest.raises(ValueError, match="min_cs with dedup=False"):
        embedding_scored_pairs(emb, dim=2, n_vectors=2, dedup=False, min_cs=0.3)


@pytest.mark.parametrize("base_choice", ["lsh", "ann"])
def test_recall_audit_planting_hits_target_cosines(tmp_path, base_choice):
    """The recall audits' planted copies must land at their float64
    target cosines within float32 storage rounding — the audits
    recompute truth from the STORED vectors, so a systematic planting
    error would silently shift the measured-vs-model comparison. One
    ``plant`` serves both audits; only the base choice differs (a seeded
    sample for ``lsh``, the query ids for ``ann``)."""
    import numpy as np
    import pyarrow.parquet as pq

    import scripts.recall_audit as aud

    src = "/root/testdata/sf0.1"
    out = str(tmp_path / "embeddings.parquet")
    pick, seed = aud.PLANTING[base_choice]
    pairs = aud.plant(src, out, pick, seed)

    t = pq.read_table(out)
    ids = np.asarray(t.column("vec_id").to_pandas(), dtype=np.int64)
    X = np.stack(t.column("embedding").to_pandas().values).astype(np.float64)
    assert len(np.unique(ids)) == len(ids)

    src_t = pq.read_table(src + "/embeddings.parquet")
    n_src = src_t.num_rows
    base, copies = X[:n_src], X[n_src:]
    # regenerate the same picks/targets from the pinned seed
    rng = np.random.default_rng(seed)
    norms = np.linalg.norm(base, axis=1)
    if base_choice == "lsh":
        eligible = np.nonzero(norms > 0)[0]
        k = max(100, int(n_src * aud.PLANT_FRACTION))
        pick_idx = rng.choice(eligible, size=min(k, len(eligible)), replace=False)
        assert len(pick_idx) >= 100
    else:
        pick_idx = np.nonzero((ids[:n_src] < aud.NQ_AUDIT) & (norms > 0))[0]
        assert len(pick_idx) > 0
    targets = rng.uniform(aud.PLANT_LO, aud.PLANT_HI, size=len(pick_idx))
    assert pairs[:, 0].tolist() == ids[pick_idx].tolist()
    assert pairs[:, 1].tolist() == ids[n_src:].tolist()

    b = base[pick_idx]
    cs = np.einsum("ij,ij->i", b, copies) / (
        np.linalg.norm(b, axis=1) * np.linalg.norm(copies, axis=1)
    )
    # float32 storage of a unit-scale vector perturbs each component at
    # ~1e-7 relative; the dot over 64 dims stays within ~1e-5
    assert np.max(np.abs(cs - targets)) < 1e-5
    # norms preserved: the copy inherits its base's norm
    assert np.allclose(
        np.linalg.norm(copies, axis=1), np.linalg.norm(b, axis=1), rtol=1e-5
    )
