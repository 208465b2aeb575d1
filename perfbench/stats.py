"""Sample statistics and failure counting for the benchmark."""

from __future__ import annotations

import math
from collections import defaultdict

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method of
    ``statistics.quantiles``), q in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n: int, q: float) -> bool:
    """True when n samples leave at least MIN_BEYOND above percentile q."""
    return round(n * (1 - q), 9) >= MIN_BEYOND


class OpLog:
    """Attempted and failed operations, by operation name. A correctness
    mismatch found after the timed loop marks every attempt of that
    operation failed, since each attempt ran the same plan."""

    def __init__(self) -> None:
        self.attempts: dict[str, int] = defaultdict(int)
        self.errors: dict[str, int] = defaultdict(int)
        self.wrong: set[str] = set()

    def record(self, name: str, ok: bool) -> None:
        self.attempts[name] += 1
        if not ok:
            self.errors[name] += 1

    def mark_wrong(self, name: str) -> None:
        self.wrong.add(name)
        self.attempts[name] = max(self.attempts[name], 1)

    @property
    def attempted(self) -> int:
        return sum(self.attempts.values())

    @property
    def failed(self) -> int:
        return sum(
            self.attempts[n] if n in self.wrong else self.errors[n]
            for n in self.attempts
        )

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
