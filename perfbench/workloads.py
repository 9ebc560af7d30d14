"""The benchmark's workloads: which registered queries run, on how much data.

Each workload stresses a different layer of the package; README.md in
this directory gives the reasons and the layer -> end-to-end map.
"""

from __future__ import annotations

from dataclasses import dataclass

from datagen import Sizes

# queries registered by the compat package (MapReduce API and the UDTF map)
COMPAT_QUERIES = frozenset({"mapreduce_search", "mapreduce_wordcount", "udtf_search_count"})


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sizes: Sizes
    # nominal seconds per pass on a 4-core box: a run of ``--seconds``
    # makes ``--seconds / pass_s`` passes (at least three)
    pass_s: float


WORKLOADS = {
    # relational scans, joins, a window and the compat MapReduce and UDTF
    # paths, on the larger tables of the two (lineitem ~160k rows)
    "batch": Workload(
        queries=(
            "mapreduce_search",
            "udtf_search_count",
            "q1_pricing_summary",
            "join_fact_fact",
            "join_broadcast_dims",
            "window_rank",
        ),
        sizes=Sizes(customers=4000, suppliers=300, parts=6000, orders=40000,
                    events=10000, users=150, documents=1000, embeddings=500),
        pass_s=5.0,
    ),
    # LLM-data curation and structured streaming on a corpus that fits in
    # memory: Python workers (Arrow span hashing, applyInPandasWithState),
    # eager driver jobs (the SCD2 micro-batches' MERGE writes), per-batch
    # planning, the state store and the SCD2 MERGE sink
    "curation_stream": Workload(
        queries=(
            "dedup_apply_spans",
            "stream_stateful_user_stats",
            "stream_scd2_user_state",
        ),
        sizes=Sizes(customers=1500, suppliers=100, parts=2000, orders=15000,
                    events=10000, users=150, documents=500, embeddings=500),
        pass_s=5.5,
    ),
}
