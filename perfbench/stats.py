"""Pure helpers of the benchmark: summaries, Spark metric strings, tallies.

Nothing here touches Spark, so the tests run without a session.
"""

from __future__ import annotations

import math
import re
import statistics
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_TOTAL = re.compile(r"^total \(min, med, max[^\n]*\n")
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Read one SQL metric value as the status store formats it.

    Accepts a plain count (``2,000``), a size (``1654.4 KiB``), a duration
    (``942 ms``, ``1.5 s``) or the aggregated form
    ``total (min, med, max (stageId: taskId))\\n4.3 s (0 ms, ...)``, of
    which only the total counts. Sizes come back in bytes, durations in
    milliseconds, counts as is. ``None`` (a metric never updated) is 0.
    """
    if text is None:
        return 0.0
    m = _VALUE.match(_TOTAL.sub("", text))
    if m is None:
        raise ValueError(f"unreadable metric value: {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(map(math.log, values)) / len(values))


def suite_metrics(samples: dict[str, list[float]]) -> dict[str, float]:
    """``run_s`` and ``query_geomean_s`` from per-query wall samples: the
    median of each query's samples, summed and geometric-averaged."""
    medians = [statistics.median(v) for v in samples.values() if v]
    return {"run_s": sum(medians), "query_geomean_s": geomean(medians)}


@dataclass
class Tally:
    """Attempted and failed query executions. A failure is an error, an
    output that differs from the oracle, or a row count that differs from
    the verified one."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}")
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
