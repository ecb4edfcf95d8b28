"""State shared by one benchmark run: the session, the recorder, the
work directory, the seeded generator and the failure tally."""

from __future__ import annotations

import sys
import threading
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench.layers import Recorder


@dataclass
class RunContext:
    spark: object
    rec: Recorder
    work: str
    seed: int
    seconds: float
    scale: str
    rng: np.random.Generator
    attempted: int = 0
    failed: int = 0
    inputs: dict = field(default_factory=dict)
    setup_parts: dict = field(default_factory=dict)
    # per-layer values a workload computes itself (counts, ratios)
    layer: dict = field(default_factory=dict)
    # step wall times, the measured phase's length, set-up CPU seconds
    # and the measured phase's peak RSS
    steps: list = field(default_factory=list)
    measured_s: float = 0.0
    setup_cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one checked operation: an exception or a returned reason
        string counts as a failure (logged to stderr); returns the
        function's result, or None when it raised."""
        with self._lock:
            self.attempted += 1
        try:
            out = fn(*args, **kwargs)
        except Exception:  # the run goes on; the failure is counted
            with self._lock:
                self.failed += 1
            print(f"[perfbench] {what} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        return out

    def verify(self, what: str, reason: str | None) -> None:
        """Record the outcome of an output check made on an attempted
        operation (does not count a new attempt)."""
        if reason is not None:
            with self._lock:
                self.failed += 1
            print(f"[perfbench] wrong output in {what}: {reason}", file=sys.stderr)

    def call(self, record: bool, name: str, layer: str, fn, *args, **kwargs):
        """A call into the program: timed as a client operation when
        ``record`` is set (the measured phase), plain during warm-up."""
        if record:
            return self.rec.op(name, layer, fn, *args, **kwargs)
        return fn(*args, **kwargs)
