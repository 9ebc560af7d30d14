"""Golden physical-plan snapshots: full normalized executed plans,
reviewable as text diffs.

The property audits (tests/test_plans.py) pin individual plan facts --
a broadcast happened, a filter pushed down, a shuffle budget held. A
Spark version bump or a query edit can still silently rearrange
everything *around* those facts. The golden corpus closes that gap: the
entire executed plan for each headline query is normalized (volatile
identifiers removed) and snapshotted under ``tests/plans/``; any change
to the physical strategy shows up as a reviewable diff in the commit
touching it, exactly like a golden-file test for a compiler's codegen.

Normalization drops what varies run-to-run or machine-to-machine while
keeping everything an optimizer reviewer cares about (operator tree,
join strategies, build sides, pushed filters, read schemas, partial/
final aggregate split):

- expression ids  ``l_orderkey#123L``      -> ``l_orderkey#L``
- plan ids        ``[plan_id=61]``         -> ``[plan_id=*]``
- file paths      ``InMemoryFileIndex(..)[file:/...]`` -> ``[<paths>]``
- session shuffle partition counts on ENSURE_REQUIREMENTS exchanges
  (explicit ``repartition(n)`` counts are design decisions and KEPT)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from os___mapreduceframework_spark.plans.audit import executed_plan


def normalized_plan(df: DataFrame, mask_computed_doubles: bool = False) -> str:
    plan = executed_plan(df)
    plan = re.sub(r"#\d+", "#", plan)
    # higher-order-function lambda variables carry a counter suffix
    # (lambda x_1#) whose numbering depends on analysis order
    plan = re.sub(r"\b(lambda [A-Za-z]+)_\d+#", r"\1_#", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=*]", plan)
    plan = re.sub(
        r"InMemoryFileIndex\(\d+ paths?\)\[[^\]]*\]", "InMemoryFileIndex[<paths>]", plan
    )
    plan = re.sub(r"file:[^\s,\]]+", "<path>", plan)
    # partition count injected by the session's shuffle-partitions conf;
    # REPARTITION_BY_NUM counts (explicit repartition) stay as written
    plan = re.sub(r", \d+\), ENSURE_REQUIREMENTS", ", P), ENSURE_REQUIREMENTS", plan)
    if mask_computed_doubles:
        # computed scalar doubles baked into plans by driver-side
        # recurrences (pagerank's dangling-mass constants): their exact
        # values are FIXTURE STATISTICS, so a fixture regen with
        # different row counts would spuriously fail the goldens that
        # carry them (VERDICT r9 item 7). >= 7 fractional digits
        # separates computed doubles from written design constants
        # (0.45, 1000.0), which stay. Only those goldens ask for it:
        # anywhere else a changed constant is a real regression.
        plan = re.sub(r"\b\d+\.\d{7,}(?:E-?\d+)?\b", "<f>", plan)
        # ...and the count-derived normalization factor multiplying such
        # a recurrence ((base + slope * w) * N with N = a row count)
        plan = re.sub(r"(\(<f> \+ \(<f> \* \w+#\)\) \* )\d+\.\d+\b", r"\1<f>", plan)
    return plan.rstrip() + "\n"
