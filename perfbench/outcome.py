"""What one workload run hands back to ``run.py``."""

from __future__ import annotations

import statistics
import sys
import traceback
from dataclasses import dataclass, field


@dataclass
class Outcome:
    setup_s: float = 0.0
    batch_s: float = 0.0
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    facts: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; a mismatch counts as a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one command, request or query; an exception counts as a
        failure and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - the benchmark keeps running
            self.failed += 1
            print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
