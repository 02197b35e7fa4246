"""End-to-end golden parity: Spark conversion pipeline vs the reference's
expected GeoJSON for all seven fixture cases (the reference's own test
matrix, tests/convertAirspaces.test.ts)."""

import json
import os

import pytest

from compare import geojson_matches
from fixtures_data import FIXTURES

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")

# fixGeometries per reference test (tests/convertAirspaces.test.ts configs)
CASES = {
    "with-service": {"fix": True, "services": True},
    "single-arc-clockwise": {"fix": True, "services": False},
    "single-arc-counterclockwise": {"fix": True, "services": False},
    "circle": {"fix": True, "services": False},
    "single-line": {"fix": False, "services": False},
    "multi-sequence": {"fix": False, "services": False},
    "pill-shaped": {"fix": False, "services": False},
}


@pytest.mark.parametrize("case", list(CASES))
def test_golden_parity(spark, case):
    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        features_to_geojson,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import (
        airspaces_from_records,
        services_from_records,
    )

    cfg = CASES[case]
    airspaces = airspaces_from_records(spark, FIXTURES[case]["airspace"])
    services = (
        services_from_records(spark, FIXTURES["service"]["service"])
        if cfg["services"]
        else None
    )
    features = convert_airspaces(
        airspaces, services=services, fix_geometries=cfg["fix"]
    )
    actual = features_to_geojson(features)
    with open(os.path.join(GOLDEN_DIR, f"{case}.json")) as fh:
        expected = json.load(fh)
    mismatches = geojson_matches(actual, expected)
    assert not mismatches, f"{case}: {mismatches[:10]}"


def test_many_documents_distributed_parse(spark):
    """The conversion scales out over a TABLE of YAIXM documents: 60
    distinct docs parse/convert in one distributed job with per-doc
    lineage intact."""
    import yaml as pyyaml
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.operators.convert import convert_airspaces
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_yaml_docs

    text = pyyaml.safe_dump({"airspace": FIXTURES["circle"]["airspace"]})
    docs = spark.createDataFrame(
        [(f"doc-{i}", text) for i in range(60)], "doc_id string, yaml string"
    ).repartition(6)
    feats = convert_airspaces(airspaces_from_yaml_docs(docs), fix_geometries=True)
    assert feats.count() == 60
    assert feats.where(F.col("error").isNotNull()).count() == 0
    per_doc = feats.groupBy("doc_id").count().collect()
    assert len(per_doc) == 60 and all(r["count"] == 1 for r in per_doc)
    # all docs produce the identical 101-point ring
    assert feats.select(F.size("ring")).distinct().collect()[0][0] == 101


def test_yaml_doc_source_roundtrip(spark):
    """The distributed YAML source parses documents identically to the
    pre-parsed record path."""
    import yaml as pyyaml

    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        features_to_geojson,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import (
        airspaces_from_records,
        airspaces_from_yaml_docs,
    )

    text = pyyaml.safe_dump({"airspace": FIXTURES["multi-sequence"]["airspace"]})
    docs = spark.createDataFrame([("inline", text)], "doc_id string, yaml string")
    via_yaml = features_to_geojson(
        convert_airspaces(airspaces_from_yaml_docs(docs))
    )
    via_records = features_to_geojson(
        convert_airspaces(
            airspaces_from_records(spark, FIXTURES["multi-sequence"]["airspace"])
        ),
    )
    assert not geojson_matches(via_yaml, via_records)


def test_unkink_selfpinned_goldens(spark):
    """SELF-PINNED unkink regression goldens (tests/goldens/
    unkink_selfpinned.json, minted once by tools/make_unkink_pins.py —
    NOT reference-derived; they pin the ring-start convention and
    largest-part selection of the fix pipeline). Both the driver twin and
    the Spark geometry UDF must reproduce the pinned rings bit-exactly."""
    import hashlib
    import json

    import numpy as np

    from openaip_yaixm_to_geojson_spark.functions.convert_local import convert_blocks
    from openaip_yaixm_to_geojson_spark.operators.convert import convert_airspaces
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_records

    with open("tests/goldens/unkink_selfpinned.json") as fh:
        pins = json.load(fh)

    def digest(ring):
        canon = ";".join(f"{float(x)!r},{float(y)!r}" for x, y in ring)
        return hashlib.md5(canon.encode()).hexdigest()

    blocks = [pin["block"] for pin in pins.values()]
    local = convert_blocks(blocks, fix_geometries=True)
    feats = (
        convert_airspaces(airspaces_from_records(spark, blocks), fix_geometries=True)
        .orderBy("block_idx")
        .collect()
    )
    assert len(local) == len(feats) == len(pins)
    for (name, pin), lf, sf in zip(pins.items(), local, feats):
        assert len(lf["ring"]) == pin["n_ring_pts"], name
        assert digest(lf["ring"]) == pin["ring_digest"], name
        spark_ring = np.asarray(sf["ring"])
        assert digest(spark_ring) == pin["ring_digest"], name
        assert sf["valid"] and sf["fixed"], name


def test_sequence_empty_rules_suppresses_base(spark):
    """JS `sequenceRules || baseRules` truthiness (reference
    airspace-converter.ts:256): an EMPTY rules array on a sequence is
    truthy in JS, so `rules: []` SUPPRESSES the base rules — no NOTAM flag,
    no remarks, no RULE_TYPES-driven type override — while a sequence with
    no rules key at all inherits them. Both the Spark pipeline and the
    local twin must agree."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.functions.convert_local import convert_blocks
    from openaip_yaixm_to_geojson_spark.operators.convert import convert_airspaces
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_records

    boundary = [{"circle": {"radius": "2 nm", "centre": "525747N 0003337W"}}]
    block = {
        "name": "RULES FALSY CASE",
        "id": "rules-falsy-case",
        "type": "CTA",
        "class": "D",
        "rules": ["TMZ", "NOTAM"],
        "geometry": [
            {"seq": 1, "upper": "2500 ft", "lower": "SFC", "boundary": boundary,
             "rules": []},
            {"seq": 2, "upper": "2500 ft", "lower": "SFC", "boundary": boundary},
        ],
    }

    feats = (
        convert_airspaces(airspaces_from_records(spark, [block]))
        .orderBy("seq_idx")
        .select("name", "type", "class", "activatedByNotam", "remarks")
        .collect()
    )
    local = convert_blocks([block])
    assert len(feats) == len(local) == 2

    # seq 1: explicit [] wins over base rules -> nothing rule-derived
    assert feats[0]["activatedByNotam"] is False
    assert feats[0]["remarks"] is None
    assert feats[0]["type"] == "CTA"  # TMZ override suppressed
    # seq 2: no rules key -> inherits ["TMZ", "NOTAM"]
    assert feats[1]["activatedByNotam"] is True
    assert feats[1]["remarks"] == "TMZ, NOTAM"
    assert feats[1]["type"] == "TMZ"  # RULE_TYPES override applies

    for row, lf in zip(feats, local):
        assert row["activatedByNotam"] == lf["activatedByNotam"]
        assert row["remarks"] == lf["remarks"]
        assert row["type"] == lf["type"]
        assert row["class"] == lf["class"]


def test_ndjson_sink_matches_collector(spark, tmp_path):
    """Distributed ndjson sink (executor-side to_json, no collect) agrees
    with the driver-side FeatureCollection on every feature's identity,
    geometry, and present/absent optional fields."""
    import json

    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        features_to_geojson,
        write_geojson_ndjson,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import (
        airspaces_from_records,
        services_from_records,
    )

    blocks = []
    for case in ["with-service", "circle", "single-line", "pill-shaped"]:
        blocks.extend(FIXTURES[case]["airspace"])
    feats = convert_airspaces(
        airspaces_from_records(spark, blocks),
        services=services_from_records(spark, FIXTURES["service"]["service"]),
        fix_geometries=True,
    )
    out = str(tmp_path / "nd")
    write_geojson_ndjson(feats, out)
    nd = {}
    for row in spark.read.text(out).collect():
        f = json.loads(row["value"])
        nd[f["properties"]["name"]] = f
    collected = features_to_geojson(feats)["features"]
    assert len(nd) == len(collected) > 0
    for cf in collected:
        name = cf["properties"]["name"]
        nf = nd[name]
        assert nf["geometry"]["coordinates"][0] == cf["geometry"]["coordinates"][0]
        for opt in ("remarks", "groundService"):
            assert (opt in nf["properties"]) == (opt in cf["properties"]), (name, opt)
        assert nf["properties"]["class"] == cf["properties"]["class"]
