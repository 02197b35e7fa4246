"""Input-size-adaptive scan fan-out (optimization guide: partitioning must
derive from the input, not from a constant tuned to one scale).

Parquet assigns rows to scan splits at ROW-GROUP granularity: a small input
written as one file with one row group scans as a single task no matter how
many byte-range splits the planner cuts, so every per-row expression an
operator stacks on top of the scan (shingling, n-gram explode, md5 probes,
geotag arithmetic) runs single-threaded until the first exchange. On a
32-core local master that serializes the CPU-dominant phase of most text
operators; on a production cluster a 100-TB input has orders of magnitude
more splits than cores and the same operators parallelize for free.

`fan_out` closes that gap adaptively: it round-robin-repartitions a frame up
to the cluster's default parallelism ONLY when its current partitioning is
narrower. The condition is derived from the frame itself (scan splits vs
`defaultParallelism`), so at scale it is a structural no-op — the exchange
only appears in exactly the regime where the input is small enough that
shuffling it is trivially cheap (the whole frame is at most a few scan
splits) and the per-row compute above it is the bottleneck.

RoundRobinPartitioning is used deliberately:
* it spreads rows evenly regardless of key skew (a hash key would need to be
  chosen per caller and can collide into few buckets at tiny cardinality);
* `spark.sql.execution.sortBeforeRepartition` (default true) keeps the
  row-to-partition assignment deterministic under task retry, so operators
  stay replay-safe;
* it is NOT an `Exchange hashpartitioning` node, so executed-plan pins that
  count hash exchanges (tests/test_plan_properties.py) still count only the
  algorithmic shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition `df` up to defaultParallelism iff it is currently
    narrower; no-op (and no added exchange) otherwise."""
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: never fail a query path
        return df
    if current >= target:
        return df
    return df.repartition(target)
