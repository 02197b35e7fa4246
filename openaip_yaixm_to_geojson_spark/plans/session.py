"""SparkSession factory tuned for this engine.

Single place that encodes the scale posture: AQE on (runtime re-planning +
skew-join mitigation), Arrow transfers for the vectorized geometry UDFs,
bounded Arrow batches (polygon rings are 100+ points each), and a shuffle
partition count sized for the local harness but overridable for clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "openaip-yaixm-to-geojson-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    # master="cluster": leave the master to the launcher (spark-submit
    # --master / cluster manager); anything else pins it here.
    if master != "cluster":
        builder = builder.master(master or f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Day and hour boundaries of the event operators (to_date, hour)
        # and the timestamps Arrow hands to pandas UDFs are read in the
        # session time zone; pin UTC rather than inheriting the host JVM
        # timezone, which would shift those bounds on non-UTC hosts.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # InferFiltersFromConstraints adds isnotnull(join_key) (and
    # transitively derived) predicates to every inner equi-join side.
    # They are redundant for correctness (null keys never match an inner
    # join anyway) and this engine's join keys — digests, cell ids,
    # doc/user ids — are non-null by construction, so the filters prune
    # nothing. They are NOT free: a predicate over a DERIVED key
    # re-inlines the key's whole derivation (no cross-operator CSE), so
    # e.g. the geotag md5+CASE chain under the spatial cell join was
    # evaluated 2-3x per row (measured 0.43 s -> 1.61 s for one inferred
    # isnotnull over a 50k-row scan; spatial_join 1.6 s -> 0.41 s with
    # the rule excluded). Scale-valid: the cost is per-row CPU at any
    # input size, the foregone benefit (early null pruning) is zero on
    # non-null keys. An A/B against Spark's default rule set unsets the
    # conf on the built session: conf.unset("spark.sql.optimizer.excludedRules").
    builder = builder.config(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
