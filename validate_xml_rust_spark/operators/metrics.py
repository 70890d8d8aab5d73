"""Run-level performance metrics + phase tracking.

The reference tracks phases (Discovery, SchemaLoading, Validation,
Aggregation, Complete — src/validator.rs:166-191), per-phase durations,
throughput, cache stats and peak memory read from /proc/self/status
(src/validator.rs:772-793); progress is an atomic counter across tasks
(A8, src/validator.rs:522, 572-580). The engine analog:

- ``PhaseTracker`` — driver-side phase timings (Spark stage boundaries are
  the task-level truth; this tracks the logical phases of §3.1),
- ``peak_memory_mb`` — VmHWM from /proc/self/status of the Python driver
  process only: the JVM and the Python workers are separate processes,
  even in local mode, and are not counted (Spark reports their RSS when
  ``spark.executor.processTreeMetrics.enabled`` is set),
- ``progress_counter`` — a Spark accumulator wired into a lightweight
  foreach-style count, the A8 analog (optional; the summary aggregation
  subsumes it in batch runs),
- ``run_metrics_row`` — the PerformanceMetrics record
  (src/validator.rs:194-229) as a plain dict for the report/metrics sink.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

PHASES = ("discovery", "schema_loading", "validation", "aggregation", "complete")


@dataclass
class PhaseTracker:
    durations_ms: dict[str, float] = field(default_factory=dict)
    _current: str | None = None
    _t0: float = 0.0

    def start(self, phase: str) -> "PhaseTracker":
        self.finish()
        self._current = phase
        self._t0 = time.perf_counter()
        return self

    def finish(self) -> None:
        if self._current is not None:
            self.durations_ms[self._current] = self.durations_ms.get(
                self._current, 0.0
            ) + (time.perf_counter() - self._t0) * 1000
            self._current = None

    def total_ms(self) -> float:
        return sum(self.durations_ms.values())


def peak_memory_mb() -> float | None:
    """VmHWM (peak RSS) of this Python driver process — the reference
    reads the same field (src/validator.rs:772-793). Excludes the JVM
    and the Python workers, which run as separate processes. None on
    non-Linux."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        return None
    return None


def run_metrics_row(
    n_docs: int,
    phases: PhaseTracker,
    cache_stats: dict | None = None,
    concurrency: int | None = None,
) -> dict:
    """The PerformanceMetrics analog (throughput guarded ÷0 like
    src/validator.rs:295-299; cache hit rate aggregated into the record
    like PerformanceMetrics.cache_hit_rate, src/validator.rs:219-229)."""
    total_s = phases.total_ms() / 1000
    return {
        "total_docs": n_docs,
        "phase_durations_ms": dict(phases.durations_ms),
        "total_duration_ms": round(phases.total_ms(), 1),
        "throughput_docs_per_second": round(n_docs / total_s, 1) if total_s > 0 else 0.0,
        "peak_memory_mb": peak_memory_mb(),
        "cache_stats": cache_stats or {},
        "cache_hit_rate": round((cache_stats or {}).get("hit_rate", 0.0), 4),
        "concurrent_validations": concurrency,
    }
