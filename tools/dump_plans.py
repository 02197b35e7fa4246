"""Regenerate PLANS.md: the formatted physical plan of every bench-suite
query (`bench_suite.suite`, built as bench.py builds them, so these are the
plans bench.py times), then the three spatial flagship plans the suite
lacks. A plan A/B is a `git diff PLANS.md` across the change: an
unchanged plan dumps byte-identically.

Usage: python tools/dump_plans.py

The inputs and the session are bench.py's: its $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR  # noqa: E402

HEADER = """# PLANS — physical plans of the bench suite

Regenerated by `python tools/dump_plans.py` over {sf} on {master}: one
section per `bench_suite.suite` query, in bench.py's order, then the
spatial flagship plans the suite lacks. What to look for:
`PushedFilters`/`ReadSchema` (scan pruning), `BroadcastHashJoin`
(no fact-side shuffle) whose condition holds the PIP refine, no
`ArrowEvalPython` on the fact side of a spatial join, a single
`Exchange` per aggregation (map-side partials),
and wide `WholeStageCodegen` spans around the relational glue.

"""


def stable_ids(plan: str) -> str:
    """Renumber expression ids (`#123`) and exchange ids (`plan_id=45`) in
    order of first appearance: they count up across the session, so without
    this an unchanged plan would not dump byte-identically."""
    ids: dict[tuple[str, str], int] = {}
    return re.sub(r"(#|plan_id=)(\d+)", lambda m: f"{m[1]}{ids.setdefault((m[1], m[2]), len(ids))}", plan)


def main() -> None:
    from bench_suite import suite
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, spatial_join
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup
    from openaip_yaixm_to_geojson_spark.plans.session import build_session
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    spark = build_session(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = suite(spark, SF_DIR)
    polys = fixture_polygons()
    pages = pages_from_documents(spark, SF_DIR)
    sections = [(name, None, build) for name, build in queries.items()] + [
        (
            "tile_class_rollup",
            "bench.py's headline rollup, here over spatial_join_sf: one "
            "Exchange (the rollup's own shuffle), partials on the map side.",
            lambda: tile_class_rollup(queries["spatial_join_sf"]()),
        ),
        (
            "spatial_join_salted",
            "Explicit repartition on (cell, salt); the cover side is exploded "
            "x salt so hot cells spread across reducers.",
            lambda: spatial_join(pages, polys, broadcast=False, salt=4),
        ),
        (
            "spatial_join_polygon_table",
            "Polygon side fully distributed: pandas-UDF polyfill + explode "
            "builds the cover with its band edges; the refine is the same "
            "join condition as the list path. Still zero fact-side shuffles.",
            lambda: spatial_join(pages, polygons_to_df(spark, polys)),
        ),
    ]

    sf = os.path.basename(SF_DIR.rstrip("/"))
    text = HEADER.format(sf=sf, master=spark.sparkContext.master)
    for name, note, build in sections:
        df = build()
        plan = stable_ids(spark.sparkContext._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
        text += f"## {name}\n\n" + (f"{note}\n\n" if note else "") + f"```\n{plan}\n```\n\n"
        print(f"explained {name}", flush=True)
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(text)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
