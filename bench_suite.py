"""The bench.py operator suite, written once.

`suite(spark, sf_dir)` returns the 31 queries that bench.py times after its
synthetic headline, in bench.py's order, as zero-argument builders. A
builder returns the DataFrame that bench.py forces with `.count()`. The
inputs (`docs`, `emb`, `pages`, `ev`, `clicks`/`views`, `linked`) are built
once, as bench.py builds them, and shared by every builder.

bench.py keeps its own copy of the suite because its source is frozen;
`tests/test_tools.py` checks that the names and their order still agree.
Consumers: bench_extra.py (timings) and tools/dump_plans.py (PLANS.md).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def suite(spark: SparkSession, sf_dir: str) -> dict[str, Callable[[], DataFrame]]:
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        containment_pairs,
        edit_distance_pairs,
        exact_dedup,
        minhash_lsh_pairs,
        simhash16,
        simhash64,
    )
    from openaip_yaixm_to_geojson_spark.operators.events import (
        asof_join,
        events_anomaly,
        events_funnel,
    )
    from openaip_yaixm_to_geojson_spark.operators.graph import synth_link_graph, triangle_count
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_edge_ring_expansion,
        knn_ring_expansion,
    )
    from openaip_yaixm_to_geojson_spark.operators.relational import corpus_cube, pareto_frontier
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        ANN_K,
        ann_topk_quantized,
        cosine_topk,
        queries_from_embeddings,
    )
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.operators.terms import (
        bm25_topk,
        bpe_phrase_merge,
        charlm_surprisal,
        repeated_grams,
        tfidf_topk,
    )
    from openaip_yaixm_to_geojson_spark.operators.text import (
        analyze_documents,
        bloom_contamination,
        pack_documents,
        stratified_sample,
    )
    from openaip_yaixm_to_geojson_spark.operators.tiles import (
        geohash_counts,
        tile_nearest_airspace,
        tile_xyz_export,
    )
    from openaip_yaixm_to_geojson_spark.operators.web import (
        boilerplate_scrub,
        link_pagerank,
        synth_linked_pages,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    polys = fixture_polygons()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pages = pages_from_documents(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id", "value")
    linked = synth_linked_pages(spark, sf_dir)

    return {
        "spatial_join_sf": lambda: spatial_join(pages, polys),
        "knn_sf": lambda: knn_ring_expansion(pages, polys),
        "knn_edge_sf": lambda: knn_edge_ring_expansion(pages, polys),
        "dedup_exact": lambda: exact_dedup(docs),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs),
        "simhash": lambda: docs.select(simhash16(F.col("text"))),
        "simhash64": lambda: docs.select(simhash64(F.col("text"))),
        "text_analyze": lambda: analyze_documents(docs).select(F.max("n_tokens_bpe")),
        "ann_topk": lambda: cosine_topk(emb, queries_from_embeddings(emb)),
        "ann_topk_quantized": lambda: ann_topk_quantized(emb, ANN_K),
        "tile_xyz": lambda: tile_xyz_export(pages),
        "events_asof": lambda: asof_join(clicks, views),
        "tfidf_topk": lambda: tfidf_topk(docs),
        "stratified_sample": lambda: stratified_sample(docs),
        "events_funnel": lambda: events_funnel(ev),
        "triangle_count": lambda: triangle_count(synth_link_graph(docs)),
        "corpus_cube": lambda: corpus_cube(docs),
        "repeated_grams": lambda: repeated_grams(docs),
        "pack_documents": lambda: pack_documents(docs),
        "bloom_contamination": lambda: bloom_contamination(
            docs, docs.where(F.col("doc_id") % 101 == 0)
        ),
        "geohash_counts": lambda: geohash_counts(pages),
        "link_pagerank": lambda: link_pagerank(linked),
        "boilerplate_scrub": lambda: boilerplate_scrub(linked),
        "events_anomaly": lambda: events_anomaly(ev),
        "edit_distance_pairs": lambda: edit_distance_pairs(docs),
        "pareto_frontier": lambda: pareto_frontier(docs),
        "containment_pairs": lambda: containment_pairs(docs),
        "bm25_topk": lambda: bm25_topk(docs),
        "tile_nearest_airspace": lambda: tile_nearest_airspace(pages, polys),
        "charlm_surprisal": lambda: charlm_surprisal(docs),
        "bpe_phrase_merge": lambda: bpe_phrase_merge(docs),
    }
