"""Query registry: the engine's public query surface.

Every operator from SURVEY.md section 2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) a DuckDB
oracle string. ``__spark_entry__.py`` exposes this registry to the
driver's correctness harness (row-count + schema + order-insensitive
value-hash at sf0.01).

Conventions that keep the Spark result and the DuckDB oracle hash-equal:

- every computed column is aliased identically on both sides;
- money sums are computed in DECIMAL on both sides (order-independent,
  exact) and cast to double only at the end;
- other double outputs are rounded to a fixed scale on both sides;
- timestamp outputs are formatted to strings on both sides;
- an oracle applies a gate through the gate's SQL twin beside its Spark
  helper (e.g. ``text.quality_gate_sql``), never through its own copy.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver's rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers (once per SparkContext).

    A hosting session we didn't build (the driver's harness) has the
    package on the *driver's* sys.path only; cloudpickle serializes
    package-defined functions (multimodal Pandas UDFs, the live-search
    Python data source) by reference, so the worker needs the module
    importable too. ``addPyFile`` of a package zip makes every query
    self-contained regardless of who owns the session.
    """
    sc = spark.sparkContext
    if getattr(sc, "_graft_pyfiles_sent", False):
        return
    try:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        # PID-keyed archive path: a fixed shared path races when two
        # processes (bench + correctness sweep) make_archive at once,
        # and addPyFile could ship a partially written zip
        from os___mapreduceframework_spark.scratch import scratch_dir

        archive = shutil.make_archive(
            scratch_dir("os___mapreduceframework_spark_pyfiles"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(archive)
    except Exception as exc:
        # Best-effort: sessions built by our own factory already have the
        # package on every worker's sys.path, so a failure here is only
        # fatal for externally owned sessions -- but it must be *visible*
        # either way, or a mis-shipped package zip fails much later with
        # an opaque worker ImportError (VERDICT r5 item 5).
        import warnings

        warnings.warn(
            f"os___mapreduceframework_spark: addPyFile of the package zip "
            f"failed ({exc!r}); queries using package-defined UDFs will only "
            f"work if workers can already import the package",
            RuntimeWarning,
            stacklevel=2,
        )
    sc._graft_pyfiles_sent = True


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_worker_imports(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(fn=wrapped, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _row_passed(row: object) -> bool:
    """True iff a driver CORRECTNESS row records an actual pass.

    A pass is err-free AND value-verified (``hash_match``); for queries
    the driver ran without an oracle (rows-only check) it is err-free
    with rows produced. Rows with ``err`` set (canonicalization crashes,
    ``no_oracle``) or mismatched hashes are failures: counting them as
    "checked" would rotate a known-broken query behind fresh coverage
    and it might never re-sweep to green (ADVICE r4 item 1).
    """
    if not isinstance(row, dict) or row.get("err") is not None:
        return False
    if row.get("hash_match"):
        return True
    # rows-only check (no oracle registered): no hash/schema fields set
    return row.get("hash_match") is None and row.get("spark_rows") is not None


def _driver_status() -> dict[str, tuple[int, bool]]:
    """name -> (latest round with a CORRECTNESS row, that row passed).

    The driver's correctness harness sweeps ~50 queries per round in the
    order ``queries()`` yields them, then writes ``CORRECTNESS_r{N}.json``
    to the repo root. Reading those files back lets the registry rotate
    never-checked-or-last-failed queries to the front of the sweep
    automatically each round -- no hand-maintained reorder of
    ``_load_all()`` imports. Latest-round status wins: a query that
    failed in r02 but passed in r03 is checked; one whose most recent
    row errored is NOT, so it re-sweeps first until green.
    """
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue  # unreadable round file -> treat its queries as unchecked
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, _row_passed(row))
    return latest


def _driver_checked() -> set[str]:
    """Query names whose LATEST driver CORRECTNESS row passed."""
    return {name for name, (_, ok) in _driver_status().items() if ok}


# Risk ranking for never-checked queries: families whose failure modes the
# repo's local oracle mirror is least able to vouch for go first (iterative
# graph, driver-side eigensolve, real byte-level decoders, multi-stage
# pipelines, stateful streaming), per VERDICT.md round-3 item 1.
_SWEEP_RISK_PREFIXES = (
    "graph_",
    "embedding_pca",
    "embedding_whitening",
    "multimodal_",
    "ivm_",
    "layout_",
    "fuzzy_",
    "curation_",
    "dedup_",
    "ann_",
    "embedding_",
    "sketch_",
    "text_bpe",
    "text_perplexity",
    "stream_",
)

# Proven shapes (driver-green r01 analogues exist) that can wait a round
# when the never-checked set exceeds the driver's ~50-query budget.
_SWEEP_LOW_RISK = frozenset(
    {
        "dedup_containment",
        "embedding_label_centroids",
        "split_train_val_test",
        "sample_stratified",
        "class_balance_downsample",
        "sample_weighted_by_length",
        "text_char_entropy",
        "text_repetition_filter",
        "text_keywords_per_doc",
        "basket_pair_support",
        "customer_rfm_segments",
        "pandas_udf_scalar_score",
        "pandas_udaf_weighted_mean",
    }
)


def _sweep_order() -> list[str]:
    """Registry names: never-checked-or-last-failed first (risk-ranked),
    then green queries STALEST-first (oldest passing round leads), so
    the sweep budget left after fresh coverage re-verifies the greens
    whose evidence is oldest instead of re-running the same head every
    round."""
    names = list(REGISTRY)
    status = _driver_status()
    checked = {n for n, (_, ok) in status.items() if ok}
    never = [n for n in names if n not in checked]
    reg_idx = {n: i for i, n in enumerate(names)}
    green = sorted(
        (n for n in names if n in checked),
        key=lambda n: (status[n][0], reg_idx[n]),
    )
    if not never:
        return green

    def risk(n: str) -> int:
        for i, pfx in enumerate(_SWEEP_RISK_PREFIXES):
            if n.startswith(pfx):
                return i
        return len(_SWEEP_RISK_PREFIXES)

    never.sort(key=lambda n: (n in _SWEEP_LOW_RISK, risk(n), reg_idx[n]))
    return never + green


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: REGISTRY[name].fn for name in _sweep_order()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _sweep_order()
        if REGISTRY[name].oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    Import order here no longer decides the driver sweep: since round 4,
    ``_sweep_order()`` reads the repo's ``CORRECTNESS_r*.json`` rows and
    puts never-driver-checked queries first (risk-ranked), so coverage
    rotates automatically each round. Import order only breaks ties
    within a risk bucket.
    """
    global _LOADED
    if _LOADED:
        return
    # round-3 rotation: never-driver-checked families first
    import os___mapreduceframework_spark.operators.quality  # noqa: F401
    import os___mapreduceframework_spark.operators.temporal  # noqa: F401
    import os___mapreduceframework_spark.operators.indexing  # noqa: F401
    import os___mapreduceframework_spark.operators.training  # noqa: F401
    import os___mapreduceframework_spark.sources.formats  # noqa: F401
    import os___mapreduceframework_spark.operators.scale  # noqa: F401
    import os___mapreduceframework_spark.streaming.windows  # noqa: F401
    import os___mapreduceframework_spark.streaming.incremental  # noqa: F401
    import os___mapreduceframework_spark.streaming.joins  # noqa: F401
    import os___mapreduceframework_spark.operators.multimodal  # noqa: F401
    import os___mapreduceframework_spark.streaming.live_search  # noqa: F401
    import os___mapreduceframework_spark.streaming.scd2  # noqa: F401
    import os___mapreduceframework_spark.streaming.snapshot_cdc  # noqa: F401
    import os___mapreduceframework_spark.streaming.transform_state  # noqa: F401
    import os___mapreduceframework_spark.operators.sampling  # noqa: F401
    # driver-proven families (green rows in CORRECTNESS_r01/r02)
    import os___mapreduceframework_spark.operators.library  # noqa: F401
    import os___mapreduceframework_spark.compat.udtf_map  # noqa: F401
    import os___mapreduceframework_spark.operators.dedup  # noqa: F401
    import os___mapreduceframework_spark.operators.similarity  # noqa: F401
    import os___mapreduceframework_spark.operators.relational  # noqa: F401
    import os___mapreduceframework_spark.operators.text  # noqa: F401
    import os___mapreduceframework_spark.operators.curation  # noqa: F401
    import os___mapreduceframework_spark.operators.analytics  # noqa: F401
    import os___mapreduceframework_spark.operators.advanced  # noqa: F401
    # round-3 late additions (will lead the r04 rotation)
    import os___mapreduceframework_spark.operators.contamination  # noqa: F401
    import os___mapreduceframework_spark.operators.graph  # noqa: F401
    import os___mapreduceframework_spark.operators.sketches  # noqa: F401
    import os___mapreduceframework_spark.operators.layout  # noqa: F401
    import os___mapreduceframework_spark.operators.ivm  # noqa: F401
    import os___mapreduceframework_spark.operators.fuzzy  # noqa: F401

    _LOADED = True
