"""Helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time
import traceback


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]; one value is its own
    quantile."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def data_files(root: str) -> dict[str, int]:
    """Path -> size of every data file under ``root`` (Spark's marker
    and checksum files left out)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Ops:
    """Counts operations and the ones whose output check failed; an
    operation that raises counts as failed and the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", flush=True)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"operation failed: {what}", flush=True)
        traceback.print_exc()


def rounds(seconds: float):
    """Yield round numbers while another whole round, as long as the
    mean round so far, still fits in ``seconds``; at least one."""
    start, n = time.perf_counter(), 0
    while True:
        elapsed = time.perf_counter() - start
        if n and elapsed + elapsed / n > seconds:
            return
        yield n
        n += 1
