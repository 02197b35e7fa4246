"""Round-7 isolation bench: per-query min-of-N timings over $SPARK_GRAFT_SF_DIR
(default sf1.0) on local[$SPARK_GRAFT_CPUS], NOT the frozen driver bench.

Usage: python bench_extra.py [passes] [query ...]

Prints one line per query: name, min, all samples. Queries default to the
full bench.py suite minus the synthetic headline (`bench_suite.suite`).

The `pages` and `linked` inputs are built once and shared by every query,
as in bench.py (this script used to rebuild them on every call).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = set(sys.argv[2:])

    from bench_suite import suite
    from openaip_yaixm_to_geojson_spark.plans.session import build_session

    spark = build_session(
        app_name="bench_extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    builders = suite(spark, SF_DIR)
    names = [n for n in builders if not only or n in only]
    out = {}
    for name in names:
        build = builders[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        build().count()  # warm: plan/codegen one-time costs
        ts = []
        for _ in range(passes):
            t0 = time.time()
            build().count()
            ts.append(round(time.time() - t0, 3))
        out[name] = {"min": min(ts), "samples": ts}
        print(f"{name}: min {min(ts)} samples {ts}", flush=True)
    print(json.dumps({k: v["min"] for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
