"""Bucketed co-located joins (no Exchange) and the quarantine channel."""

import pytest
from pyspark.sql import functions as F

from fixtures_data import FIXTURES


@pytest.fixture(scope="module")
def polygons():
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons

    return fixture_polygons()


def test_bucketed_join_has_no_exchange(spark, polygons, tmp_path):
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.plans.bucketing import (
        bucketed_cover,
        bucketed_pages,
        colocated_spatial_join,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pages = pages_from_documents(spark, "/root/testdata/sf0.001")
        bucketed_pages(spark, pages, "pages_bkt", n_buckets=8)
        bucketed_cover(spark, polygons, "cover_bkt", n_buckets=8)
        joined = colocated_spatial_join(spark, "pages_bkt", "cover_bkt")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, plan.split("==")[1][:800]
        assert "SortMergeJoin" in plan
        assert "ArrowEvalPython" not in plan  # the refine is the merge join's condition
        got = {(r["url"], r["poly_id"]) for r in joined.collect()}
        expected = {
            (r["url"], r["poly_id"]) for r in spatial_join(pages, polygons).collect()
        }
        assert got == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS pages_bkt")
        spark.sql("DROP TABLE IF EXISTS cover_bkt")


def test_quarantine_channel(spark):
    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        split_quarantine,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_records

    blocks = list(FIXTURES["circle"]["airspace"]) + [
        {"name": "BAD TYPE", "type": "ZZZ", "geometry": [
            {"upper": "FL100", "lower": "SFC",
             "boundary": [{"circle": {"radius": "1 nm", "centre": "525747N 0003337W"}}]}]},
        {"name": "BAD CEILING", "type": "D", "geometry": [
            {"upper": "12 parsecs", "lower": "SFC",
             "boundary": [{"circle": {"radius": "1 nm", "centre": "525747N 0003337W"}}]}]},
    ]
    feats = convert_airspaces(airspaces_from_records(spark, blocks))
    clean, quarantine = split_quarantine(feats)
    assert clean.count() == 1 and "error" not in clean.columns
    bad = {r["name"]: r["error"] for r in quarantine.collect()}
    assert "not allowed" in bad["BAD TYPE"]
    assert "invalid ceiling" in bad["BAD CEILING"]
    # the one bad block never contaminates the clean side
    assert clean.where(F.col("name").startswith("BAD")).count() == 0
