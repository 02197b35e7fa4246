"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: spatial-join + tile-assignment throughput over a
deterministic synthetic pages table (SPARK_GRAFT_BENCH_DOCS, default 2M
rows — the sf-dir documents table is too small to exercise the join at
scale). Per-query wall times for the rest of the operator suite run over
the sf-dir tables.

Scaling-efficiency evidence (N vs 4N cores) is the last run recorded in
BENCH.md, kept as history.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "8000000"))


def main() -> None:
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        simhash16,
    )
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_ring_expansion
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        cosine_topk,
        queries_from_embeddings,
    )
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.operators.text import analyze_documents
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup
    from openaip_yaixm_to_geojson_spark.plans.session import build_session
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents, synth_pages

    import shutil
    import tempfile

    from openaip_yaixm_to_geojson_spark.plans.hostnoise import (
        cpu_ticks,
        loadavg1,
        steal_meta,
        timed_samples,
    )

    spark = build_session(app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    polys = fixture_polygons()

    timings: dict[str, float] = {}
    query_meta: dict[str, dict] = {}
    run_load0, run_ticks0 = loadavg1(), cpu_ticks()

    def timed(name: str, fn) -> None:
        # min of 2 (the first pass pays one-time plan/codegen costs — a
        # per-executor constant at cluster scale), each sample wrapped in
        # /proc/stat steal metering with ONE resample if neither pass was
        # quiet — on this host a bare wall sample can't be told apart from
        # a hypervisor steal spike after the fact (r4 verdict item #1).
        r = timed_samples(fn, passes=2, retry_budget=1)
        timings[name] = r["sec"]
        query_meta[name] = {
            "quiet": r["quiet"],
            "steal_ratio": r["steal_ratio"],
            "samples": [s["sec"] for s in r["samples"]],
        }

    # Datagen (untimed): write the synthetic pages table once — the real
    # workload scans a stored pages table; measuring the scan->join->rollup
    # pipeline against parquet mirrors that and keeps the synthetic-geotag
    # expression tree out of the measured join stage.
    pages_dir = tempfile.mkdtemp(prefix="bench_pages_")
    synth_pages(spark, BENCH_DOCS, with_payload=False).write.mode("overwrite").parquet(pages_dir)
    pages_big = spark.read.parquet(pages_dir)

    # Warm the JVM codegen + all Python UDF workers with one full untimed
    # pass; the measured run is steady-state throughput (worker startup is
    # a per-executor constant that vanishes at cluster scale).
    tile_class_rollup(spatial_join(pages_big, polys)).count()

    # headline: parquet scan -> cell encode -> broadcast join -> PIP ->
    # per-tile class rollup (forced with a count). Min of 5 measured passes
    # (min-of-2/3 were observed landing whole contention spikes above the
    # recorded band), each pass steal-metered, with up to 3 auto-resamples
    # if no pass was quiet — so the recorded headline is flagged quiet or
    # self-identifies as polluted (r4's committed artifact was 2.5-4x
    # steal-inflated with nothing in the JSON to show it).
    rollup_holder: dict[str, int] = {}

    def headline_pass() -> None:
        join_out = spatial_join(pages_big, polys)
        rollup_holder["n"] = tile_class_rollup(join_out).count()

    hr = timed_samples(headline_pass, passes=5, retry_budget=3)
    headline_sec = hr["sec"]
    n_rollup = rollup_holder["n"]
    timings["spatial_join_tiles_synth"] = headline_sec
    query_meta["spatial_join_tiles_synth"] = {
        "quiet": hr["quiet"],
        "steal_ratio": hr["steal_ratio"],
        "samples": [s["sec"] for s in hr["samples"]],
    }
    docs_per_sec = BENCH_DOCS / headline_sec
    shutil.rmtree(pages_dir, ignore_errors=True)

    if os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_ONLY"):
        payload = {
            "metric": "spatial_join_tile_rollup_wall",
            "value": round(headline_sec, 3),
            "unit": "sec",
            "quiet": hr["quiet"],
            "docs_per_sec": round(docs_per_sec),
            "bench_docs": BENCH_DOCS,
            "rollup_rows": n_rollup,
            "cpus": CPUS,
            "queries": {"spatial_join_tiles_synth": round(headline_sec, 3)},
            "sf": "synthetic",
        }
        print(
            json.dumps({**payload, "query_meta": query_meta, "loadavg_before": run_load0}),
            file=sys.stderr,
        )
        print(json.dumps(payload))
        spark.stop()
        return

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pages = pages_from_documents(spark, SF_DIR)

    from openaip_yaixm_to_geojson_spark.operators.dedup import simhash64
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_edge_ring_expansion

    timed("spatial_join_sf", lambda: spatial_join(pages, polys).count())
    timed("knn_sf", lambda: knn_ring_expansion(pages, polys).count())
    timed("knn_edge_sf", lambda: knn_edge_ring_expansion(pages, polys).count())
    timed("dedup_exact", lambda: exact_dedup(docs).count())
    timed("minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs).count())
    timed("simhash", lambda: docs.select(simhash16(F.col("text"))).count())
    timed("simhash64", lambda: docs.select(simhash64(F.col("text"))).count())
    timed("text_analyze", lambda: analyze_documents(docs).select(F.max("n_tokens_bpe")).count())
    timed(
        "ann_topk",
        lambda: cosine_topk(emb, queries_from_embeddings(emb)).count(),
    )
    from openaip_yaixm_to_geojson_spark.operators.similarity import ANN_K, ann_topk_quantized

    timed("ann_topk_quantized", lambda: ann_topk_quantized(emb, ANN_K).count())

    from openaip_yaixm_to_geojson_spark.operators.events import asof_join
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_xyz_export

    timed("tile_xyz", lambda: tile_xyz_export(pages).count())
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id", "value")
    timed("events_asof", lambda: asof_join(clicks, views).count())

    from openaip_yaixm_to_geojson_spark.operators.terms import tfidf_topk
    from openaip_yaixm_to_geojson_spark.operators.text import stratified_sample

    timed("tfidf_topk", lambda: tfidf_topk(docs).count())
    timed(
        "stratified_sample",
        lambda: stratified_sample(docs).count(),
    )

    from openaip_yaixm_to_geojson_spark.operators.events import events_funnel
    from openaip_yaixm_to_geojson_spark.operators.text import pack_documents

    timed("events_funnel", lambda: events_funnel(ev).count())

    from openaip_yaixm_to_geojson_spark.operators.graph import (
        synth_link_graph,
        triangle_count,
    )
    from openaip_yaixm_to_geojson_spark.operators.relational import corpus_cube

    from openaip_yaixm_to_geojson_spark.operators.terms import repeated_grams

    timed("triangle_count", lambda: triangle_count(synth_link_graph(docs)).count())
    timed("corpus_cube", lambda: corpus_cube(docs).count())
    timed("repeated_grams", lambda: repeated_grams(docs).count())
    timed(
        "pack_documents",
        lambda: pack_documents(docs).count(),
    )

    from openaip_yaixm_to_geojson_spark.operators.text import bloom_contamination
    from openaip_yaixm_to_geojson_spark.operators.tiles import geohash_counts
    from openaip_yaixm_to_geojson_spark.operators.web import link_pagerank, synth_linked_pages

    timed(
        "bloom_contamination",
        lambda: bloom_contamination(docs, docs.where(F.col("doc_id") % 101 == 0)).count(),
    )
    timed("geohash_counts", lambda: geohash_counts(pages).count())
    linked = synth_linked_pages(spark, SF_DIR)
    timed("link_pagerank", lambda: link_pagerank(linked).count())

    from openaip_yaixm_to_geojson_spark.operators.dedup import edit_distance_pairs
    from openaip_yaixm_to_geojson_spark.operators.events import events_anomaly
    from openaip_yaixm_to_geojson_spark.operators.relational import pareto_frontier
    from openaip_yaixm_to_geojson_spark.operators.web import boilerplate_scrub

    timed("boilerplate_scrub", lambda: boilerplate_scrub(linked).count())
    timed("events_anomaly", lambda: events_anomaly(ev).count())
    timed("edit_distance_pairs", lambda: edit_distance_pairs(docs).count())
    timed("pareto_frontier", lambda: pareto_frontier(docs).count())

    from openaip_yaixm_to_geojson_spark.operators.dedup import containment_pairs

    timed("containment_pairs", lambda: containment_pairs(docs).count())

    from openaip_yaixm_to_geojson_spark.operators.terms import bm25_topk
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_nearest_airspace

    timed("bm25_topk", lambda: bm25_topk(docs).count())
    timed("tile_nearest_airspace", lambda: tile_nearest_airspace(pages, polys).count())

    from openaip_yaixm_to_geojson_spark.operators.terms import (
        bpe_phrase_merge,
        charlm_surprisal,
    )

    timed("charlm_surprisal", lambda: charlm_surprisal(docs).count())
    timed("bpe_phrase_merge", lambda: bpe_phrase_merge(docs).count())

    run_meta = steal_meta(run_ticks0, cpu_ticks())
    result = {
        "metric": "spatial_join_tile_rollup_wall",
        "value": round(headline_sec, 3),
        "unit": "sec",
        # quiet: the recorded headline sample ran with <5% hypervisor steal
        # (see plans/hostnoise.py); all_quiet covers every suite query
        "quiet": hr["quiet"],
        "all_quiet": all(m["quiet"] for m in query_meta.values()),
        "docs_per_sec": round(docs_per_sec),
        "bench_docs": BENCH_DOCS,
        "rollup_rows": n_rollup,
        "cpus": CPUS,
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    }
    # surface the last recorded N->4N scaling run (BENCH.md history)
    bench_md = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md")
    if os.path.exists(bench_md):
        import re

        text = open(bench_md).read()
        m = re.search(r"scaling efficiency (\d+\.\d+)", text)
        if m:
            result["scaling_efficiency_n_to_4n"] = float(m.group(1))
    # Per-sample noise metadata goes to STDERR: the driver keeps only the
    # last ~2,000 chars of stdout, and r5's query_meta pushed the headline
    # metric off the front of that tail (BENCH_r05.json parsed: null). The
    # FINAL stdout line stays compact (<1,500 chars), headline first.
    verbose = dict(result)
    verbose["query_meta"] = query_meta
    verbose["loadavg_before"] = run_load0
    verbose["loadavg_after"] = loadavg1()
    verbose["run_steal_ratio"] = run_meta["steal_ratio"]
    print(json.dumps(verbose), file=sys.stderr)
    line = json.dumps(result)
    if len(line) > 1500:  # drop per-query detail before losing the headline
        result["queries"] = {"spatial_join_tiles_synth": result["value"]}
        line = json.dumps(result)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
