"""Output checks and the attempted/failed tally.

Every timed operation and every output check is one attempt. An
exception inside an operation, or a check whose condition is false,
counts as one failure; the run carries on with the next operation.
"""

from __future__ import annotations

import math
import traceback
from contextlib import contextmanager


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, name: str):
        """Count one attempt; an exception counts as a failure and is
        recorded, not raised."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".rstrip())
        return ok

    @property
    def correct(self) -> bool:
        return self.failed == 0


def fpr_limit(p: float, n: int, sigmas: float = 5.0) -> float:
    """Largest false-positive share consistent with rate ``p`` over ``n``
    independent non-members: ``p`` plus a binomial margin."""
    return p + sigmas * math.sqrt(p * (1 - p) / max(n, 1)) + 1.0 / max(n, 1)


def bloom_fpp(k: int, n: int, m: int) -> float:
    """Published Bloom false-positive rate ``(1 - e^{-kn/m})^k``."""
    return (1 - math.exp(-k * n / m)) ** k


def hll_ok(estimate: float, exact: int, m: int) -> bool:
    return abs(estimate - exact) <= 3 * 1.04 / math.sqrt(m) * exact


def cms_ok(estimates, exact, total: int, w: int) -> tuple[bool, str]:
    """Count-Min never undercounts and overcounts by at most ``e*N/w``."""
    under = int(sum(e < x for e, x in zip(estimates, exact)))
    over = max((e - x for e, x in zip(estimates, exact)), default=0)
    limit = math.e * total / w
    return under == 0 and over <= limit, f"under={under} max_over={over} limit={limit:.1f}"


def rank_error(sorted_values, quantile_value: float, q: float) -> float:
    """|rank(quantile_value) - q| against the exact sorted data, with the
    rank taken as the midpoint of the value's tie range."""
    import numpy as np

    n = len(sorted_values)
    lo = np.searchsorted(sorted_values, quantile_value, side="left")
    hi = np.searchsorted(sorted_values, quantile_value, side="right")
    if lo <= q * n <= hi:
        return 0.0
    return min(abs(lo / n - q), abs(hi / n - q))
