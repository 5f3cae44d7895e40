"""Operation bookkeeping: every public-surface call the benchmark makes is an
operation; an exception, a wrong output or a timeout marks it failed."""

from __future__ import annotations

import statistics
import sys
import time
import traceback

# an operation slower than this counts as failed (timeout)
OP_TIMEOUT_S = 120.0


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn, check=None):
        """Run ``fn()`` as one operation and return ``(result, wall_s)``.
        ``check(result)`` returns a problem string, or None when the output
        is correct. On failure the result is None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - an op failure is a measurement
            self._fail(name, traceback.format_exc())
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        if wall > OP_TIMEOUT_S:
            self._fail(name, f"timeout: {wall:.1f}s > {OP_TIMEOUT_S}s")
            return None, wall
        if check is not None:
            try:
                problem = check(result)
            except Exception:  # noqa: BLE001 - a broken output is a failure
                problem = traceback.format_exc()
            if problem:
                self._fail(name, problem)
                return None, wall
        print(f"perfbench: {name} {wall:.3f}s", file=sys.stderr)
        return result, wall

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: operation {name} failed: {why}", file=sys.stderr)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    returns (value, percentile, sample count). With fewer than
    ``beyond + 1`` samples there is no such percentile; the maximum is
    returned with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else float("nan")), 100.0, n
    k = n - beyond  # 1-based rank with `beyond` samples after it
    return s[k - 1], 100.0 * k / n, n
