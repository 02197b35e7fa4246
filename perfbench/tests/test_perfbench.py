"""Tests of the benchmark's own code: seeded generators, span arithmetic,
metric names and the result line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import result_line  # noqa: E402
from perfbench.trace import METRIC_NAME, Span, Tracer, _duration_seconds, self_time  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- seeded inputs -------------------------------------------------------------


def test_documents_same_seed_same_corpus():
    a, b = gen.documents(7, 500), gen.documents(7, 500)
    assert a.equals(b)
    assert not a.equals(gen.documents(8, 500))
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert a["doc_id"].is_unique
    assert (a["n_chars"] == a["text"].str.len()).all()
    assert a["text"].str.endswith(" dup").any()


def test_yaixm_docs_same_seed_same_documents():
    a, b = gen.yaixm_docs(3, 2), gen.yaixm_docs(3, 2)
    assert a.equals(b)
    assert not a.equals(gen.yaixm_docs(4, 2))
    assert len(a) == 2 * len(gen.YAIXM_CASES)


def test_dms_round_trip_across_hemispheres():
    for coord in ("512014N 0003104W", "000010N 0000005E", "493000N 0012000E"):
        assert gen.seconds_to_dms(*gen.dms_to_seconds(coord)) == coord
    assert gen.seconds_to_dms(-10, -5) == "000010S 0000005W"


def test_shift_moves_arc_end_points_with_their_centres():
    from openaip_yaixm_to_geojson_spark.data.fixtures_data import FIXTURES

    block = FIXTURES["pill-shaped"]["airspace"][0]
    moved = gen.shift_block(block, 3600, -7200)
    before = [gen.dms_to_seconds(c) for c in gen.block_points(block)]
    after = [gen.dms_to_seconds(c) for c in gen.block_points(moved)]
    assert [(a[0] - b[0], a[1] - b[1]) for a, b in zip(after, before)] == [(3600, -7200)] * len(before)
    assert block["geometry"][0]["boundary"][1]["arc"]["to"] == "504824N 0010921W"  # input untouched


def test_yaixm_blocks_centre_on_the_aberdeen_cluster():
    """Every block is centred in CENTRE_BOX_S, so no airspace reaches the
    region south of 56.25N and west of 0E that holds most pages."""
    import numpy as np
    import yaml

    lat_lo, lat_hi, lon_lo, lon_hi = gen.CENTRE_BOX_S
    for seed in range(1, 6):
        for text in gen.yaixm_docs(seed, 1)["yaml"]:
            (block,) = yaml.safe_load(text)["airspace"]
            points = np.array([gen.dms_to_seconds(c) for c in gen.block_points(block)])
            lat, lon = points.mean(axis=0)
            assert lat_lo - 1 <= lat <= lat_hi + 1 and lon_lo - 1 <= lon <= lon_hi + 1
            assert points[:, 0].min() >= 56.5 * 3600


def test_pages_same_seed_same_rows():
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[1]").appName("perfbench-test").getOrCreate()
    try:
        def rows(seed):
            return sorted(tuple(r) for r in gen.pages_df(spark, seed, 200).collect())

        a = rows(5)
        assert a == rows(5)
        assert a != rows(6)
        assert all(49.5 <= lat <= 57.7 and -6.5 <= lon <= 1.3 for _, lat, lon in a)
    finally:
        spark.stop()


# -- spans -----------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 7.0, 8.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 5.0)


def test_self_time_clips_children_to_the_span():
    parent = _span(0, 2.0, 6.0)
    assert self_time(parent, [_span(1, 0.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]) == pytest.approx(2.0)
    assert self_time(parent, []) == pytest.approx(4.0)
    assert self_time(parent, [_span(1, 7.0, 9.0, 0)]) == pytest.approx(4.0)


def test_tracer_add_reaches_every_enclosing_span():
    tracer = Tracer.__new__(Tracer)
    tracer.spans = [_span(0, 0, 3), _span(1, 0, 2, 0), _span(2, 0, 1, 1), _span(3, 2, 3, 0)]
    tracer.add(tracer.spans[2], "python_s", 1.5)
    assert [s.counters.get("python_s", 0.0) for s in tracer.spans] == [1.5, 1.5, 1.5, 0.0]
    assert [s.id for s in tracer.descendants(tracer.spans[0])] == [1, 3, 2]


def test_status_store_durations_parse():
    assert _duration_seconds("total (min, med, max)\n2.3 s (0 ms, 1 ms, 2.1 s)") == pytest.approx(2.3)
    assert _duration_seconds("total (min, med, max)\n120 ms (1 ms)") == pytest.approx(0.12)
    assert _duration_seconds("total (min, med, max)\n1.5 m (1 ms)") == pytest.approx(90.0)
    assert _duration_seconds("") == 0.0


# -- metric names and the result line ----------------------------------------------


def test_metric_names_and_units(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name) and METRIC_NAME.match(name), name
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    assert not METRIC_NAME.match("bad name")
    assert not METRIC_NAME.match(".starts-with-dot")


def test_benchmark_spec_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_result_line_carries_exactly_the_spec_metrics(spec):
    report = {
        "attempted": 4,
        "failed": 0,
        "end_to_end": {m["name"]: 1.25 for m in spec["end_to_end"]},
        "per_layer": {m["name"]: 0.5 for m in spec["per_layer"] if m["unit"] == "s"},
    }
    report["per_layer"].update({"spatial.matched": 7.0, "not.in.spec": 1.0})
    line = result_line(report, spec, trace=0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert set(line["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    layer = result_line(report, spec, trace=1)["metrics"]
    assert set(layer) == {m["name"] for m in spec["per_layer"]}
    assert layer["spatial.matched"] == {"value": 7.0, "unit": "count"}
    assert layer["knn.jobs"]["value"] == 0.0  # a count of a layer the workload does not run
    assert result_line({**report, "failed": 1}, spec, trace=0)["correct"] is False
    with pytest.raises(KeyError):  # a timing is never defaulted
        result_line({**report, "per_layer": {"spatial.matched": 7.0}}, spec, trace=1)
