"""Dump .explain("formatted") for the bench-suite queries into plans/r07/.

Usage: python tools/dump_r07_plans.py before|after [query ...]

Writes plans/r07/<query>_<suffix>.txt for each bench-suite query (or the
named subset). The queries come from `bench_suite.suite`, which builds them
as bench.py does, so the plans are the plans bench.py times.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")


def main() -> None:
    suffix = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT_DIR, exist_ok=True)

    from bench_suite import suite
    from openaip_yaixm_to_geojson_spark.plans.session import build_session

    spark = build_session(app_name="dump_r07_plans", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    for name, build in suite(spark, SF_DIR).items():
        if only and name not in only:
            continue
        try:
            df = build()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            text = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
