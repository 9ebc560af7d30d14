"""Golden executed-plan snapshots for the headline batch queries.

Failing test = the physical plan changed. If the change is intended
(query edit, Spark upgrade), regenerate and review the diff:

    REGEN_PLAN_GOLDENS=1 python -m pytest tests/test_plan_goldens.py -q
    git diff tests/plans/

Goldens are pinned to sf0.001 statistics (broadcast decisions depend on
file sizes, so the SF is part of the snapshot's meaning) and to the
test session's configuration; volatile identifiers are normalized away
by plans.golden.normalized_plan.
"""

from __future__ import annotations

import difflib
import os
import pathlib

import pytest

from os___mapreduceframework_spark import queries as registry
from os___mapreduceframework_spark.plans.golden import normalized_plan

ALL = registry.queries()
GOLDEN_DIR = pathlib.Path(__file__).parent / "plans"
GOLDEN_SF_DIR = "/root/testdata/sf0.001"  # stats-pinned; see module doc
REGEN = os.environ.get("REGEN_PLAN_GOLDENS") == "1"

# every non-streaming bench headline query (streaming plans are not
# snapshotted: building their result frame executes the stream, and
# micro-batch plans carry checkpoint-specific state-store paths)
from bench import HEADLINE

GOLDEN_QUERIES = [n for n in HEADLINE if not n.startswith("stream_")] + [
    # round-3 additions with stable, materialization-free plans
    "split_train_val_test",
    "sample_stratified",
    "class_balance_downsample",
    "quality_quantile_sketch",
    "events_funnel",
    "events_retention_cohorts",
    "curation_pii_scrub",
    "curation_mix_weights",
    "pandas_udf_scalar_score",
    # round-3 continuation additions (materialization-free plans only:
    # pagerank/merge-txn/ivm run jobs at build time and are excluded)
    "curation_decontaminate",
    "training_chunk_documents",
    "embedding_label_centroids",
    "embedding_label_cohesion",
    "graph_degree_stats",
    "sketch_cms_heavy_hitters",
    "text_bpe_pair_stats",
    "layout_zorder_stats",
    "text_char_entropy",
    "curation_pipeline_v2",
    # round-5: the two most expensive non-headline families (VERDICT r4
    # item 6) -- IVF probe-join ANN and blocked fuzzy matching
    "ann_ivf_topk",
    "fuzzy_match_part_names",
    # round-5 additions with stable, materialization-free plans
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "scd2_point_in_time_join",
    "events_ewma_value",
    "events_anomaly_mad",
    "quality_drift_psi",
    "training_curriculum_buckets",
    "vocab_zipf_fit",
    "curation_cluster_balance",
    "events_funnel_timeboxed",
    "arrow_map_doc_stats",
    "text_bpe_encode",
    # round-6 late additions (observe/zorder-skipping run jobs at build
    # time -- collect for the observation, scratch write -- so only the
    # span-policy query has a materialization-free plan)
    "dedup_spans_keep_first",
]


# goldens whose plans bake in doubles computed from fixture statistics
# (plans.golden.normalized_plan masks them as <f> for these only)
COMPUTED_DOUBLES = {"graph_pagerank_suppliers", "events_ewma_value"}


@pytest.mark.parametrize("name", GOLDEN_QUERIES)
def test_plan_matches_golden(spark, name):
    got = normalized_plan(
        ALL[name](spark, GOLDEN_SF_DIR),
        mask_computed_doubles=name in COMPUTED_DOUBLES,
    )
    path = GOLDEN_DIR / f"{name}.txt"
    if REGEN:
        GOLDEN_DIR.mkdir(exist_ok=True)
        path.write_text(got)
        return
    assert path.exists(), (
        f"no golden for {name}; run REGEN_PLAN_GOLDENS=1 pytest "
        f"tests/test_plan_goldens.py and review+commit tests/plans/{name}.txt"
    )
    want = path.read_text()
    if got != want:
        diff = "".join(
            difflib.unified_diff(
                want.splitlines(keepends=True),
                got.splitlines(keepends=True),
                fromfile=f"tests/plans/{name}.txt (golden)",
                tofile=f"{name} (current)",
            )
        )
        raise AssertionError(
            f"physical plan for {name} changed vs golden "
            f"(REGEN_PLAN_GOLDENS=1 to accept):\n{diff}"
        )


def test_long_literal_survives_outside_masked_goldens(spark):
    """A 7+-fractional-digit constant is a real plan fact everywhere but
    the COMPUTED_DOUBLES goldens: normalization must keep it."""
    from pyspark.sql import functions as F

    df = spark.range(3).select((F.col("id") * F.lit(0.123456789)).alias("y"))
    assert "0.123456789" in normalized_plan(df)
    assert "0.123456789" not in normalized_plan(df, mask_computed_doubles=True)
