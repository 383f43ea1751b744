"""Summary statistics and the pass/fail ledger of a benchmark run."""

from __future__ import annotations

import math
import statistics
import sys
import traceback

TAIL_SAMPLES = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile (0 < q < 1), or None unless at least
    TAIL_SAMPLES samples lie strictly beyond its rank."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


class Ledger:
    """Counts engine operations attempted and failed (raised, or returned a
    result that differs from the reference)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: WRONG {name}: {detail}", file=sys.stderr)
        return ok

    def error(self, name: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: FAILED {name}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
