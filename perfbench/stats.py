"""Small numeric helpers shared by the benchmark's workloads."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# a tail percentile is reported only when this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100). Refuses a tail percentile
    that fewer than MIN_TAIL_SAMPLES samples lie beyond: with too few
    samples it is the maximum, not a tail statistic."""
    if not values:
        raise ValueError("percentile of no samples")
    if q > 50 and len(values) * (100 - q) / 100 < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{q:g} needs at least {MIN_TAIL_SAMPLES} samples beyond it; "
            f"got {len(values)} samples"
        )
    s = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1]


def p50(values: list[float]) -> float:
    """Median, or 0.0 for an idle layer with no samples."""
    return median(values) if values else 0.0


class Metrics:
    """Named metric values with units and sample counts, in insertion order."""

    def __init__(self) -> None:
        self.values: dict[str, tuple[float, str, int]] = {}

    def add(self, name: str, value: float, unit: str, n: int = 1) -> None:
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if name in self.values:
            raise ValueError(f"metric {name} reported twice")
        self.values[name] = (float(value), unit, int(n))

    def result(self) -> dict:
        return {k: {"value": v, "unit": u} for k, (v, u, _) in self.values.items()}

    def samples(self) -> dict:
        return {k: n for k, (_, _, n) in self.values.items()}
