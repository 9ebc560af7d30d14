"""Physical-plan inspection.

``executed_plan`` and the assertions built on it back the plan audits
(pushdown/broadcast/codegen assertions in tests). The reference's
per-phase wall-time log (MapReduceFramework.cpp:388-392, :413-417) has
its counterpart outside the package: perfbench's traced run reads
Spark's status stores and query-execution phases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, *, run: bool = False) -> str:
    """The physical plan string. With ``run=True`` the query is executed
    first so AQE finalizes the plan (``isFinalPlan=true``) and
    WholeStageCodegen subtree annotations become visible -- under AQE
    the pre-execution plan omits codegen stage markers."""
    if run:
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would build a new one and leave this plan un-finalized)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def assert_plan(df: DataFrame, *, contains: tuple[str, ...] = (), absent: tuple[str, ...] = ()):
    """Test helper: assert physical-plan properties (e.g. a broadcast
    happened, a filter pushed down, no cartesian product appeared)."""
    plan = executed_plan(df)
    for frag in contains:
        assert frag in plan, f"expected {frag!r} in plan:\n{plan[:2000]}"
    for frag in absent:
        assert frag not in plan, f"did not expect {frag!r} in plan:\n{plan[:2000]}"
    return plan


FACT_TABLES = ("lineitem", "orders.parquet", "events")


def raw_fact_broadcasts(df: DataFrame, facts: tuple[str, ...] = FACT_TABLES) -> list[str]:
    """Fact tables must never broadcast: at production scale they are
    TBs, and a plan that broadcasts one only 'works' because small-SF
    statistics put a narrow projection under the threshold (that trap
    cost q4_order_priority 3.8 s locally and would be fatal on a
    cluster). Returns the offending fact names: every BroadcastExchange
    subtree that contains a RAW fact FileScan -- an *aggregated*
    derivative (e.g. q18's per-order quantity sums) is legitimately
    small and not flagged."""
    return _broadcast_offenders(executed_plan(df), facts)


def _tree_depth(line: str) -> int:
    """Depth of a plan-tree line = length of its tree-art prefix.

    Plain leading-space counting is WRONG for Spark tree strings: every
    line inside a non-last child branch is prefixed with ':' at the
    same column (':- BroadcastExchange' / ':  +- FileScan' both have
    zero leading spaces), so an indent-based subtree slice terminates
    immediately and silently misses the broadcast's children. The
    tree-art prefix is any run of ':', ' ', '+', '-' before the node
    text (node names never start with those characters)."""
    import re

    return re.match(r"^[:\s+\-]*", line).end()


def _broadcast_offenders(plan: str, facts: tuple[str, ...]) -> list[str]:
    lines = plan.splitlines()
    offenders = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = _tree_depth(line)
        sub = []
        for l2 in lines[i + 1 :]:
            if l2.strip() and _tree_depth(l2) <= depth:
                break
            sub.append(l2)
        subtxt = "\n".join(sub)
        if "HashAggregate" in subtxt or "SortAggregate" in subtxt:
            continue
        offenders.extend(f for f in facts if f in subtxt)
    return sorted(set(offenders))
