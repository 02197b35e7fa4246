"""Public converter API, CLI, GeoJSON validation, resumable pipeline, and
the full-UK-airspace smoke (the reference's own stress case,
tests/convertAirspaces.test.ts:1917-1933)."""

import json
import os

import pytest
from pyspark.sql import functions as F
import yaml as pyyaml

from fixtures_data import FIXTURES

UK_AIRSPACE = "/root/reference/tests/fixtures/airspace.yaml"
UK_SERVICE = "/root/reference/tests/fixtures/service.yaml"


def _fixture_yaml_bytes(case):
    return pyyaml.safe_dump(FIXTURES[case]).encode()


def test_converter_api_roundtrip(spark, tmp_path):
    from openaip_yaixm_to_geojson_spark import YaixmConverter

    converter = YaixmConverter(spark=spark, fixGeometries=True, strictSchemaValidation=True)
    converter.convert_from_buffer(
        _fixture_yaml_bytes("with-service"),
        service_file_buffer=pyyaml.safe_dump(FIXTURES["service"]).encode(),
    )
    geojson = converter.to_geojson()
    assert len(geojson["features"]) == 9
    assert geojson["features"][0]["properties"]["groundService"]["frequency"] == "133.440"
    out = tmp_path / "out.geojson"
    converter.to_geojson_file(str(out))
    assert json.loads(out.read_text())["type"] == "FeatureCollection"


def test_converter_api_rejects_unknown(spark):
    from openaip_yaixm_to_geojson_spark import YaixmConverter

    with pytest.raises(ValueError):
        YaixmConverter(spark=spark, nope=1)
    with pytest.raises(ValueError):
        YaixmConverter(spark=spark).convert_from_buffer(b"airspace: []", type="navaid")


def test_geojson_validator_flags_problems():
    from openaip_yaixm_to_geojson_spark.functions.validate_geojson import (
        validate_feature_collection,
    )

    good = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {
                    "name": "X",
                    "type": "CTA",
                    "class": "D",
                    "upperCeiling": {"value": 100, "unit": "FT", "referenceDatum": "MSL"},
                    "lowerCeiling": {"value": 0, "unit": "FT", "referenceDatum": "GND"},
                    "activatedByNotam": False,
                    "activity": "NONE",
                },
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]],
                },
            }
        ],
    }
    assert validate_feature_collection(good) == []
    bad = json.loads(json.dumps(good))
    bad["features"][0]["properties"]["type"] = "NOT_A_TYPE"
    bad["features"][0]["geometry"]["coordinates"] = [[[0, 0], [1, 0], [0, 0]]]
    problems = validate_feature_collection(bad)
    assert any("NOT_A_TYPE" in p for p in problems)
    # full-schema message is "is too short"; structural subset says "< 4"
    assert any(("< 4" in p) or ("too short" in p) for p in problems)
    # the structural fallback must flag the same two defects
    from openaip_yaixm_to_geojson_spark.functions.validate_geojson import (
        validate_structural,
    )

    sp = validate_structural(bad)
    assert any("NOT_A_TYPE" in p for p in sp) and any("< 4" in p for p in sp)


def test_schema_parity_with_reference_file(spark):
    """The embedded OUTPUT_SCHEMA is semantically identical to the
    reference's actual Ajv schema file (annotation keywords aside), and a
    real converted FeatureCollection passes BOTH under full draft 2020-12
    validation (reference compiles it with Ajv2020,
    airspace-converter.ts:146-166, applies at :215-224)."""
    import pytest

    jsonschema = pytest.importorskip("jsonschema")
    ref_path = "/root/reference/src/schemas/geojson-schema.json"
    if not os.path.exists(ref_path):
        pytest.skip("reference schema file not available")
    with open(ref_path) as fh:
        ref_schema = json.load(fh)

    from openaip_yaixm_to_geojson_spark.functions.validate_geojson import (
        OUTPUT_SCHEMA,
        validate_with_json_schema,
    )

    def strip(x):
        if isinstance(x, dict):
            return {
                k: strip(v) for k, v in x.items() if k not in ("description", "example", "$id")
            }
        if isinstance(x, list):
            return [strip(v) for v in x]
        return x

    assert strip(ref_schema) == strip(OUTPUT_SCHEMA)
    jsonschema.Draft202012Validator.check_schema(OUTPUT_SCHEMA)

    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        features_to_geojson,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import (
        airspaces_from_records,
        services_from_records,
    )

    blocks = []
    for case in ["with-service", "circle", "multi-sequence", "pill-shaped"]:
        blocks.extend(FIXTURES[case]["airspace"])
    fc = features_to_geojson(
        convert_airspaces(
            airspaces_from_records(spark, blocks),
            services=services_from_records(spark, FIXTURES["service"]["service"]),
            fix_geometries=True,
        )
    )
    assert validate_with_json_schema(fc) == []
    assert validate_with_json_schema(fc, ref_schema) == []


def test_cli_smoke(spark, tmp_path):
    from openaip_yaixm_to_geojson_spark import cli

    src = tmp_path / "in.yaml"
    src.write_bytes(_fixture_yaml_bytes("circle"))
    out = tmp_path / "out.geojson"
    cli.main(["-f", str(src), "-o", str(out), "-F", "-S"])
    geojson = json.loads(out.read_text())
    assert len(geojson["features"]) == 1
    assert len(geojson["features"][0]["geometry"]["coordinates"][0]) == 101


def test_pipeline_resume_stable_hashes(spark, tmp_path):
    from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner
    from openaip_yaixm_to_geojson_spark.plans.pipeline import run_pipeline

    ckpt = str(tmp_path / "pipe")
    # simulate a kill after the join stage
    partial = run_pipeline(spark, "/root/testdata/sf0.001", ckpt, stop_after="join_out")
    assert set(partial) == {"pages", "join_out"}
    runner = StageRunner(spark, ckpt)
    hashes_before = {s: runner.content_hash(s) for s in ["pages", "join_out"]}

    # stop after a later stage: nothing past it is built
    upto_tiles = run_pipeline(spark, "/root/testdata/sf0.001", ckpt, stop_after="tiles")
    assert set(upto_tiles) == {"pages", "join_out", "knn_out", "tiles"}
    assert not os.path.exists(os.path.join(ckpt, "tile_counts"))

    # an unknown stage name raises before any stage is written
    bad = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="no_such_stage"):
        run_pipeline(spark, "/root/testdata/sf0.001", bad, stop_after="no_such_stage")
    assert not os.path.exists(bad) or not os.listdir(bad)

    # resume to completion: upstream manifests untouched, all stages complete
    full = run_pipeline(spark, "/root/testdata/sf0.001", ckpt)
    assert set(full) == {"pages", "join_out", "knn_out", "tiles", "tile_counts", "tile_counts_z2"}
    # the zoom stage aggregates the TILE stage, never the fact table
    assert full["tile_counts_z2"].count() <= full["tile_counts"].count()
    for stage, h in hashes_before.items():
        assert runner.content_hash(stage) == h
    manifest = runner.manifest("tiles")
    assert manifest["status"] == "complete" and manifest["rows"] == full["tiles"].count()

    # byte-identical text per url through the checkpointed join stage
    pages = {r["url"]: r["text"] for r in full["pages"].select("url", "text").collect()}
    for row in full["join_out"].select("url", "text").collect():
        assert row["text"] == pages[row["url"]]

    # partition pruning: a region filter on the stored layout reads fewer
    # files than the full scan (cell_r5 is a physical partition column)
    stored = spark.read.parquet(f"{ckpt}/pages")
    one_cell = stored.select("cell_r5").first()[0]
    all_files = stored.select(F.input_file_name()).distinct().count()
    pruned_files = (
        stored.where(F.col("cell_r5") == one_cell)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert pruned_files < all_files


@pytest.mark.skipif(not os.path.exists(UK_AIRSPACE), reason="reference fixture not present")
def test_full_uk_airspace_smoke(spark, tmp_path):
    """Reference smoke: the full UK airspace file (13,718-line YAML +
    services) converts without error (tests/convertAirspaces.test.ts:1917-1933,
    config fixGeometries+strict)."""
    from openaip_yaixm_to_geojson_spark import YaixmConverter

    converter = YaixmConverter(spark=spark, fixGeometries=True, strictSchemaValidation=True)
    converter.convert_from_file(UK_AIRSPACE, service_file_path=UK_SERVICE)
    geojson = converter.to_geojson()
    assert len(geojson["features"]) > 500
    out = tmp_path / "airspace.geojson"
    converter.to_geojson_file(str(out))
    assert out.stat().st_size > 1_000_000


def test_input_schema_validation_quarantines_and_strict_raises(spark):
    """Structurally malformed YAIXM blocks (reference Zod asserts,
    src/validate-schema.ts:16-52) land in quarantine with a structural
    error; the strict converter API raises like the reference."""
    from openaip_yaixm_to_geojson_spark import YaixmConverter
    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        split_quarantine,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_yaml_docs

    good = FIXTURES["circle"]["airspace"][0]
    bad_cases = {
        "no-name": {k: v for k, v in good.items() if k != "name"},
        "no-geometry": {k: v for k, v in good.items() if k != "geometry"},
        "empty-boundary": {**good, "name": "EB", "geometry": [{"upper": "FL65", "lower": "SFC", "boundary": []}]},
        "bad-rules": {**good, "name": "BR", "rules": "NOTAM"},
    }
    doc = pyyaml.safe_dump({"airspace": [good] + list(bad_cases.values())})
    docs = spark.createDataFrame([("d", doc)], "doc_id string, yaml string")
    feats = convert_airspaces(airspaces_from_yaml_docs(docs))
    clean, quarantine = split_quarantine(feats)
    assert clean.count() == 1
    q = quarantine.select("block_idx", "error").collect()
    assert len(q) == 4
    errs = {r["block_idx"]: r["error"] for r in q}
    assert "name" in errs[1] and "geometry" in errs[2]
    assert "boundary" in errs[3] and "rules" in errs[4]

    converter = YaixmConverter(spark=spark)
    with pytest.raises(ValueError, match="name"):
        converter.convert_from_buffer(pyyaml.safe_dump({"airspace": [bad_cases["no-name"]]}).encode())


def test_consume_duplicate_buffer_collapses_near_dups(spark):
    """Nonzero consumeDuplicateBuffer collapses vertices within the meters
    buffer during fixing (reference removeDuplicatePoints,
    src/geojson-polygon.ts:214-259); buffer 0 keeps them."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.functions.polyfix import remove_duplicate_points

    # square with a self-intersection forced via a near-duplicate vertex
    # 0.0001 deg (~11 m) from a corner
    ring = np.array(
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [1.0001, 0.0001], [0.0, 1.0], [0.0, 0.0]]
    )
    kept0 = remove_duplicate_points(ring, 0.0)
    assert len(kept0) == 6  # nothing bit-equal: only the closing dup folds
    kept50 = remove_duplicate_points(ring, 50.0)  # 50 m buffer eats the near-dup
    assert len(kept50) == 5
    assert [0.0, 1.0] in kept50.tolist() and [1.0001, 0.0001] not in kept50.tolist()

    # end to end: with the buffer the fixed ring is the simple square
    from openaip_yaixm_to_geojson_spark.functions.polyfix import create_fixed_ring, ring_is_valid

    fixed = create_fixed_ring(ring, consume_duplicate_buffer=50.0)
    assert ring_is_valid(fixed) and len(fixed) == 5


def test_clean_object_recursive():
    """cleanObject parity: null/''/[]/{} pruned at any dict depth; arrays
    kept as-is unless empty (reference src/clean-object.ts:19-88)."""
    from openaip_yaixm_to_geojson_spark.operators.convert import clean_object

    src = {
        "a": None,
        "b": "",
        "c": [],
        "d": {},
        "e": {"x": None, "y": {"z": "", "w": []}, "k": 0},
        "f": [1, None, ""],
        "g": False,
        "h": "ok",
    }
    assert clean_object(src) == {"e": {"k": 0}, "f": [1, None, ""], "g": False, "h": "ok"}
    assert clean_object({"a": {"b": {}}}) == {}
    assert clean_object(src, keep_null=True)["a"] is None


def test_malformed_yaml_document_quarantines(spark):
    """One broken YAML document must quarantine (block_idx -1), not kill
    the distributed parse; sibling documents convert untouched."""
    from openaip_yaixm_to_geojson_spark.operators.convert import (
        convert_airspaces,
        split_quarantine,
    )
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_yaml_docs

    good = pyyaml.safe_dump({"airspace": FIXTURES["circle"]["airspace"]})
    docs = spark.createDataFrame(
        [("good", good), ("broken", "airspace: [\n  {name: 'unclosed"), ("scalar", "42")],
        "doc_id string, yaml string",
    )
    feats = convert_airspaces(airspaces_from_yaml_docs(docs))
    clean, quarantine = split_quarantine(feats)
    assert clean.where(F.col("doc_id") == "good").count() == 1
    q = {r["doc_id"]: r for r in quarantine.collect()}
    assert "yaml parse error" in q["broken"]["error"] and q["broken"]["block_idx"] == -1
    assert "not a mapping" in q["scalar"]["error"]


def test_corpus_pipeline_resume_and_byte_identity(spark, tmp_path):
    """Training-data pipeline as resumable stages: kill after the analyze
    stage, resume, stage hashes stable; text stays byte-identical from the
    raw table into every stored stage; dedup + filters only remove rows."""
    SF_DIR = "/root/testdata/sf0.001"
    from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner
    from openaip_yaixm_to_geojson_spark.plans.pipeline import run_corpus_pipeline

    ckpt = str(tmp_path / "corpus_ckpt")
    partial = run_corpus_pipeline(spark, SF_DIR, ckpt, stop_after="analyzed")
    assert set(partial) == {"analyzed"}
    runner = StageRunner(spark, ckpt)
    h_analyzed = runner.content_hash("analyzed")

    full = run_corpus_pipeline(spark, SF_DIR, ckpt)
    assert set(full) == {
        "analyzed", "deduped", "corpus", "corpus_stats",
        "span_stats", "dedup_qa", "chunks", "packed",
    }
    assert runner.content_hash("analyzed") == h_analyzed  # resumed, not rebuilt
    for stage in full:
        assert runner.manifest(stage)["status"] == "complete"

    raw = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    n_analyzed = full["analyzed"].count()
    n_deduped = full["deduped"].count()
    n_corpus = full["corpus"].count()
    assert n_analyzed == len(raw) and n_analyzed >= n_deduped >= n_corpus > 0
    for row in full["corpus"].select("doc_id", "text").collect():
        assert row["text"] == raw[row["doc_id"]]
    stats = {r["lang_pred"]: r["n_docs"] for r in full["corpus_stats"].collect()}
    assert sum(stats.values()) == n_corpus

    # export stages derive from the corpus stage only: every chunk/pack
    # key is a surviving corpus doc, pack covers the corpus exactly once
    corpus_ids = {r["doc_id"] for r in full["corpus"].select("doc_id").collect()}
    chunk_keys = {r["key"] for r in full["chunks"].select("key").distinct().collect()}
    assert chunk_keys == corpus_ids
    assert full["packed"].count() == n_corpus

    # QA stages: span profile keys are corpus docs; the recall report is
    # one row of consistent counts over the corpus sample
    span_keys = {r["key"] for r in full["span_stats"].select("key").collect()}
    assert span_keys <= corpus_ids
    qa = full["dedup_qa"].collect()[0]
    assert qa["n_missed_pairs"] == qa["n_true_pairs"] - qa["n_found_pairs"]
    assert 0 <= qa["n_found_pairs"] <= qa["n_true_pairs"] and qa["n_sampled"] <= n_corpus

    # second full run over the same checkpoint: all stage hashes stable
    again = run_corpus_pipeline(spark, SF_DIR, ckpt)
    for stage in again:
        assert runner.content_hash(stage) == StageRunner(spark, ckpt).content_hash(stage)


def test_pipeline_oracle_reads_the_pipeline_constants(monkeypatch):
    """The oracle's pipeline twins and the corpus_clean twin read the corpus
    pipeline's own quality floor, sample fraction and chunk stride, so a
    change to any of them reaches both engines (Spark-free: only the SQL
    text is built)."""
    from openaip_yaixm_to_geojson_spark import oracle
    from openaip_yaixm_to_geojson_spark.plans import pipeline

    stats, chunks = oracle.sql_pipeline_corpus_stats(), oracle.sql_pipeline_chunks()
    clean = oracle.sql_corpus_clean()
    assert "CAST(0.7 AS DOUBLE)" in chunks and "range(0, len(words), 48)" in chunks
    assert ">= 0.7)" in clean and "< 500000" in clean
    monkeypatch.setattr(pipeline, "QUALITY_MIN", 0.25)
    assert oracle.sql_pipeline_corpus_stats() == stats.replace("CAST(0.7 AS DOUBLE)", "CAST(0.25 AS DOUBLE)")
    assert oracle.sql_pipeline_corpus_stats() != stats
    assert oracle.sql_corpus_clean() == clean.replace(">= 0.7)", ">= 0.25)")
    monkeypatch.setattr(pipeline, "SAMPLE_FRACTION", 0.125)
    assert oracle.sql_corpus_clean() == clean.replace(">= 0.7)", ">= 0.25)").replace("< 500000", "< 125000")
    monkeypatch.setattr(pipeline, "CHUNK_STRIDE", 7)
    moved = oracle.sql_pipeline_chunks()
    assert "CAST(0.25 AS DOUBLE)" in moved and "range(0, len(words), 7)" in moved and "s // 7" in moved


def test_oracle_reads_the_engine_gate_constants(monkeypatch):
    """The kNN, ANN and sample oracle twins read the engine's k, query
    count and sample fraction at call time, as the engine's query
    functions do (no parameter default binds them), so a patched value
    moves exactly those oracles, each by the expected text (Spark-free:
    only the SQL text is built)."""
    import __spark_entry__ as e
    from openaip_yaixm_to_geojson_spark.operators import knn, similarity, text

    before = e.oracle_sql()
    monkeypatch.setattr(knn, "KNN_K", 5)
    monkeypatch.setattr(similarity, "ANN_QUERIES", 7)
    monkeypatch.setattr(similarity, "ANN_K", 4)
    monkeypatch.setattr(text, "QUERY_SAMPLE_FRACTION", 0.5)
    after = e.oracle_sql()
    knn_keys = ["knn_edge_k", "knn_edge_table_k", "knn_k", "knn_table_k"]
    ann_keys = ["ann_ivf", "ann_lsh", "ann_topk", "ann_topk_filtered", "ann_topk_quantized", "ann_two_stage"]
    sample_keys = ["sample", "sample_complement", "sampled_p90_chars"]
    assert sorted(k for k in before if before[k] != after[k]) == sorted(knn_keys + ann_keys + sample_keys)
    for key in knn_keys:
        assert after[key] == before[key].replace("WHERE rn <= 3", "WHERE rn <= 5")
    for key in ("ann_topk", "ann_topk_filtered"):
        assert after[key] == before[key].replace("q.vec_id < 5", "q.vec_id < 7").replace(
            "WHERE rank <= 3", "WHERE rank <= 4"
        )
    assert after["sample"] == before["sample"].replace("< 250000", "< 500000")
    assert after["sample_complement"] == before["sample_complement"].replace(">= 250000", ">= 500000")
    assert after["sampled_p90_chars"] == before["sampled_p90_chars"].replace("< 250000", "< 500000")


# (module, constant, patched value, the oracle_sql() keys it moves); a
# bare module name is under operators/
_SHARED_GATE_CONSTANTS = [
    ("similarity", "EMBED_DIM", 32, ["ann_ivf", "ann_lsh", "ann_topk", "ann_topk_filtered", "ann_two_stage",
                                     "embedding_neardup", "embedding_neardup_lsh", "kmeans_assign", "kmeans_iterate"]),
    ("similarity", "ANN_LSH_PLANES", 3, ["ann_lsh"]),
    ("similarity", "ANN_TWO_STAGE_CANDIDATES", 9, ["ann_two_stage"]),
    ("similarity", "NEARDUP_COSINE", 0.5, ["embedding_neardup", "embedding_neardup_lsh"]),
    ("similarity", "NEARDUP_LSH_PLANES", 3, ["embedding_neardup_lsh"]),
    ("similarity", "KMEANS_K", 4, ["kmeans_assign", "kmeans_iterate"]),
    ("terms", "INVERTED_INDEX_DF_CAP", 200, ["inverted_index_capped"]),
    ("text", "WEIGHTED_RATE", 0.25, ["weighted_sample"]),
    ("text", "WEIGHTED_LENGTH_CAP", 1000, ["weighted_sample"]),
    ("text", "STRATIFIED_QUOTA", 20, ["stratified_sample"]),
    ("text", "PACK_CAPACITY", 256, ["pack_documents", "pipeline_packed"]),
    ("text", "PACK_STREAMS", 4, ["pack_documents", "pipeline_packed"]),
    ("text", "P90_NUM", 3, ["lang_p90_chars", "sampled_p90_chars"]),
    ("text", "P90_DEN", 4, ["lang_p90_chars", "sampled_p90_chars"]),
    ("text", "QUERY_CHUNK_SIZE", 16, ["chunk_documents"]),
    ("text", "QUERY_CHUNK_STRIDE", 8, ["chunk_documents"]),
    ("dedup", "NGRAM_JACCARD", 0.4, ["ngram_jaccard_pairs"]),
    ("tiles", "ZOOM_LEVELS", 1, ["tile_zoom_rollup"]),
    ("dedup", "SIMHASH_MAX_HAMMING", 2, ["dedup_method_agreement", "simhash64_pairs", "simhash_pairs"]),
    ("dedup", "MINHASH_BANDS", 4, ["dedup_clusters", "dedup_clusters_star", "dedup_keep_best",
                                   "dedup_method_agreement", "dedup_report", "lsh_recall_monitor",
                                   "minhash_lsh_pairs"]),
    ("dedup", "LSH_RECALL_SAMPLE_MOD", 2, ["lsh_recall_monitor"]),
    ("dedup", "EDIT_MAX_DISTANCE", 10, ["edit_distance_pairs"]),
    ("text", "MIXTURE_BUDGET", 1000, ["mixture_allocate", "temperature_mixture"]),
    ("multimodal", "MEDIA_ROWS", 300, ["audio_frames", "image_patches", "multimodal_features",
                                       "multimodal_frames", "multimodal_real_features"]),
    ("multimodal", "AUDIO_FRAME", 16, ["audio_frames"]),
    ("multimodal", "IMAGE_PATCH", 2, ["image_patches"]),
    ("events", "MOVING_FRAME_ROWS", 3, ["events_moving_stats"]),
    ("events", "STICKINESS_WINDOW_DAYS", 7, ["events_stickiness"]),
    ("relational", "RETURNED_TOP_K", 10, ["tpch_returned_revenue"]),
    ("terms", "GRAM_WIDTH", 5, ["duplicated_span_stats", "repeated_grams"]),
    ("terms", "VOCAB_SIZE", 64, ["vocab_coverage"]),
    ("web", "CO_CITATION_HOSTS", 8, ["co_citation"]),
    ("sources.pages", "CRAWL_EPOCH", 1672531200, ["sessionize", "warc_read"]),
    ("sources.pages", "CRAWL_SPAN_S", 86400, ["sessionize"]),
]


@pytest.mark.parametrize("module, name, value, moved", _SHARED_GATE_CONSTANTS)
def test_shared_gate_constant_moves_its_oracles(monkeypatch, module, name, value, moved):
    """Each of these gate values is one engine constant that the query
    and its oracle twin both read at call time; patching it moves
    exactly the oracles of the queries that use it (Spark-free)."""
    import importlib

    import __spark_entry__ as e

    before = e.oracle_sql()
    path = module if "." in module else f"operators.{module}"
    monkeypatch.setattr(importlib.import_module(f"openaip_yaixm_to_geojson_spark.{path}"), name, value)
    after = e.oracle_sql()
    assert sorted(k for k in before if before[k] != after[k]) == moved


def test_every_gated_query_has_an_oracle():
    """queries() and oracle_sql() name the same 210 queries, so none runs
    unchecked and no oracle is orphaned (Spark-free: no query is run)."""
    import __spark_entry__ as e

    queries, oracles = e.queries(), e.oracle_sql()
    assert sorted(queries) == sorted(oracles)
    assert len(oracles) == 210


def test_warc_gz_is_real_gzip_and_reads_back(spark, tmp_path):
    """make_warc_gz writes genuine multi-member gzip (stdlib gzip module
    decompresses the WHOLE file — member concatenation is spec behavior)
    and read_warc extracts exactly the generated records."""
    import gzip

    from openaip_yaixm_to_geojson_spark.sources.warc import (
        make_warc_gz,
        read_warc,
        record_html,
        record_ts_s,
        record_url,
        write_warc_dir,
    )

    blob = make_warc_gz(3, 4)
    full = gzip.decompress(blob)  # all members, external-tool equivalent
    assert full.count(b"WARC/1.0\r\n") == 4
    assert record_url(3, 0).encode() in full

    d = str(tmp_path / "warc")
    write_warc_dir(d, n_files=2, records_per_file=3)
    rows = {r["url"]: r for r in read_warc(spark, d).collect()}
    assert len(rows) == 6
    for fid in range(2):
        for rid in range(3):
            r = rows[record_url(fid, rid)]
            assert r["warc_ts_s"] == record_ts_s(fid, rid)
            assert bytes(r["html"]).decode() == record_html(fid, rid)
