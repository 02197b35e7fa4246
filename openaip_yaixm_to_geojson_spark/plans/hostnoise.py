"""Per-sample host-noise metering for benchmarks (r4 verdict item #1).

This host is a VM whose hypervisor neighbors are REAL: cumulative
/proc/stat steal is ~50-90% of cumulative user time, and ambient 2-4x
wall-time variance has polluted committed bench artifacts twice (r3, r4).
Nothing inside a bare wall-clock sample distinguishes a code regression
from a steal spike after the fact — so every sample now carries the
evidence with it.

Protocol (documented in BENCH.md):
- around each measured sample, read /proc/stat's user+nice+system ("busy")
  and steal tick counters; the sample's steal_ratio = steal_delta /
  (busy_delta + steal_delta) — the fraction of CPU demand the hypervisor
  stole WHILE the sample ran. Our own load contributes busy ticks only,
  so the ratio isolates external noise from bench work.
- a sample is "quiet" when steal_ratio < QUIET_STEAL_RATIO (5%): measured
  quiet-host deltas here are <0.5%, polluted runs 20-50% — the regimes are
  well separated.
- benchmarks auto-resample: if no sample of a measurement is quiet after
  the planned passes, take up to `retry_budget` extra passes until one is.
  The recorded value is min over samples (steady-state estimator), and the
  emitted JSON carries min-sample metadata plus a top-level quiet flag, so
  a polluted artifact is self-identifying.

Reading /proc/stat is ~10us; it never perturbs the measurement.

CAVEAT measured in r5: at LOW parallelism the ratio OVER-attributes —
/proc/stat steal counts hypervisor ticks stolen from ALL cpus, including
idle ones, so a local[2] job on a 32-thread box can read steal_ratio 0.2+
while its two busy threads run untouched (observed: a 0.01-ratio sample
SLOWER than a 0.26-ratio one; the residual variance is cache/datagen
state). Treat quiet flags as sufficient-but-not-necessary evidence of a
clean sample, compare configs only within one matched run over one shared
input, and prefer the min over all samples of a matched run when flags
disagree with the data.
"""

from __future__ import annotations

import time
from typing import Callable

QUIET_STEAL_RATIO = 0.05

_STAT = "/proc/stat"
_LOADAVG = "/proc/loadavg"


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) cumulative ticks from /proc/stat's aggregate cpu line:
    busy = user + nice + system (cols 1-3), steal = col 8."""
    with open(_STAT) as fh:
        parts = fh.readline().split()
    vals = [int(v) for v in parts[1:9]]
    return vals[0] + vals[1] + vals[2], vals[7]


def loadavg1() -> float:
    with open(_LOADAVG) as fh:
        return float(fh.readline().split()[0])


def steal_meta(before: tuple[int, int], after: tuple[int, int]) -> dict:
    busy = after[0] - before[0]
    steal = after[1] - before[1]
    denom = busy + steal
    return {
        "busy_ticks": busy,
        "steal_ticks": steal,
        "steal_ratio": round(steal / denom, 4) if denom else 0.0,
    }


def is_quiet(meta: dict) -> bool:
    # the ratio is meaningless for near-idle samples (1 stolen tick against
    # 0 busy ticks reads as 1.0): under 5 absolute steal ticks (~50ms of
    # stolen CPU at 100Hz) a sample cannot be meaningfully inflated
    return meta["steal_ticks"] < 5 or meta["steal_ratio"] < QUIET_STEAL_RATIO


def timed_samples(fn: Callable[[], object], passes: int, retry_budget: int = 3) -> dict:
    """Run `fn` `passes` times (plus up to `retry_budget` resamples if no
    pass was quiet) and return
    {sec, quiet, steal_ratio, loadavg_before, samples:[{sec, steal_ratio,
    quiet}, ...]} where sec/steal_ratio/quiet describe the MIN sample.
    The min is taken over quiet samples when any exist (a steal spike can
    only inflate wall time, never deflate it, so preferring quiet samples
    is conservative)."""
    load0 = loadavg1()
    samples: list[dict] = []

    def one() -> dict:
        t0 = cpu_ticks()
        start = time.perf_counter()
        fn()
        sec = time.perf_counter() - start
        meta = steal_meta(t0, cpu_ticks())
        s = {"sec": round(sec, 3), "steal_ratio": meta["steal_ratio"]}
        s["quiet"] = is_quiet(meta)
        return s

    for _ in range(passes):
        samples.append(one())
    extra = 0
    while not any(s["quiet"] for s in samples) and extra < retry_budget:
        samples.append(one())
        extra += 1

    pool = [s for s in samples if s["quiet"]] or samples
    best = min(pool, key=lambda s: s["sec"])
    return {
        "sec": best["sec"],
        "quiet": best["quiet"],
        "steal_ratio": best["steal_ratio"],
        "loadavg_before": load0,
        "resampled": extra,
        "samples": samples,
    }
