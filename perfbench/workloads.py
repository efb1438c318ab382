"""The benchmark's workloads: which queries run, on which input.

Every workload is a closed loop with one client: a pass issues each of
its queries in a seeded order, and each query starts only after the
previous ``collect()`` has returned.

Inputs are the committed base tables under ``perfbench/data``. A
workload with ``copies > 1`` reads a table set derived from the base by
:mod:`perfbench.inputs` (key-shifted copies in a seeded row order), so
data rather than job count sets its time.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    base: str  # directory under perfbench/data
    copies: int  # 1 = read the base tables as they are
    queries: tuple[str, ...]  # registry names or their short prefixes
    warmup: int  # passes after the cold one while pass CPU still falls
    cold_s: float  # cold and warm-up passes, and a warm pass, on a
    warm_s: float  # 4-core host: they size a run to --seconds
    max_warm: int  # more warm passes left the run-to-run spread as it was

    def warm_passes(self, seconds: float) -> int:
        """Warm passes that fit in ``seconds`` after the cold and warm-up
        passes, at most ``max_warm``; at least two, so a warm median
        exists."""
        return max(2, min(self.max_warm, round((seconds - self.cold_s) / self.warm_s)))


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="job_heavy",
            base="sf0.01",
            copies=1,
            queries=("g10", "s08"),
            warmup=1,
            cold_s=12.5,
            warm_s=2.8,
            max_warm=6,
        ),
        Workload(
            name="scan_agg",
            base="sf0.01",
            copies=24,
            queries=("q01", "q21", "q52", "io01", "d06", "d42", "e13"),
            warmup=2,
            cold_s=23.0,
            warm_s=5.0,
            max_warm=5,
        ),
    )
}

#: The smaller input the self-check runs every workload on.
SMALL_BASE = "sf0.001"
SMALL_COPIES = 2
