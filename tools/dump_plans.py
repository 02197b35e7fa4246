"""Regenerate PLANS.md: physical plans of the flagship operators with the
scale-relevant properties annotated (pushdown, codegen, join strategy,
shuffle count). Run after changing any operator: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.dedup import minhash_lsh_pairs
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_bruteforce
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup
    from openaip_yaixm_to_geojson_spark.plans.session import build_session
    from openaip_yaixm_to_geojson_spark.sources.pages import synth_pages

    spark = build_session(app_name="plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    polys = fixture_polygons()
    tmp = tempfile.mkdtemp(prefix="plans_pages_")
    synth_pages(spark, 10_000, with_payload=False).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)

    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of the flagship operators\n\n"
        "Regenerated by `python tools/dump_plans.py`. What to look for:\n"
        "`PushedFilters`/`ReadSchema` (scan pruning), `BroadcastHashJoin`\n"
        "(no fact-side shuffle) whose condition holds the PIP refine, no\n"
        "`ArrowEvalPython` on the fact side of a spatial join, a single\n"
        "`Exchange` per aggregation (map-side partials),\n"
        "and wide `WholeStageCodegen` spans around the relational glue.\n\n"
    )

    def section(title: str, note: str, df) -> None:
        out.write(f"## {title}\n\n{note}\n\n```\n")
        plan = df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.write(plan)
        out.write("\n```\n\n")

    join_out = spatial_join(pages, polys)
    section(
        "spatial join (broadcast path)",
        "Fact table: parquet scan -> codegen cell id -> BroadcastHashJoin vs "
        "the polygon cover, with the winding number over each cover row's "
        "band edges as the join condition. Zero shuffles, no Python.",
        join_out,
    )
    section(
        "tile class rollup",
        "One Exchange (the rollup's own shuffle), partials on the map side.",
        tile_class_rollup(join_out),
    )
    section(
        "salted shuffle spatial join",
        "Explicit repartition on (cell, salt); the cover side is exploded x "
        "salt so hot cells spread across reducers.",
        spatial_join(pages, polys, broadcast=False, salt=4),
    )
    section(
        "kNN brute-force scan (vectorized baseline)",
        "Single ArrowEvalPython over the fact table; no joins.",
        knn_bruteforce(pages, polys),
    )
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df

    section(
        "spatial join (polygon-table path)",
        "Polygon side fully distributed: pandas-UDF polyfill + explode builds "
        "the cover with its band edges; the refine is the same join "
        "condition as the list path. Still zero fact-side shuffles.",
        spatial_join(pages, polygons_to_df(spark, polys)),
    )
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_edge_ring_expansion,
        knn_ring_expansion,
        vertex_index_from_table,
    )

    section(
        "kNN vertex index from a polygons TABLE",
        "Ring explode + codegen cell encode: the index builder the "
        "polygon-table kNN uses — all JVM expressions, no UDF, no driver "
        "materialization.",
        vertex_index_from_table(polygons_to_df(spark, polys)),
    )
    section(
        "kNN exact scan over the vertex TABLE",
        "The plan the expansion loop's stragglers and a tiny polygons-table "
        "input share: broadcast the (small) page tail across vertex "
        "partitions; per-(url, poly_id) min, then the per-url top-k. "
        "O(tail x vertices), data-parallel over the vertex set.",
        knn_ring_expansion(pages.limit(10), polygons_to_df(spark, polys)),
    )
    from openaip_yaixm_to_geojson_spark.operators.web import (
        extract_paragraphs,
        paragraph_dedup,
        synth_html_pages,
    )

    section(
        "paragraph-level exact dedup",
        "regexp paragraph extraction (Generate) -> md5 digest groupBy: one "
        "Exchange with map-side partials; no Python anywhere.",
        paragraph_dedup(extract_paragraphs(synth_html_pages(spark, "/root/testdata/sf0.001"))),
    )
    docs = spark.createDataFrame([(0, "a b c d e f"), (1, "a b c d e g")], "doc_id bigint, text string")
    section(
        "MinHash LSH pairs",
        "Shingles cached once; the candidate self-join carries keys only.",
        minhash_lsh_pairs(docs),
    )

    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_xyz_export
    from openaip_yaixm_to_geojson_spark.operators.web import host_cap

    pages_full = synth_pages(spark, 1_000, with_payload=True)
    section(
        "Web-Mercator XYZ tile export",
        "Codegen tile encode on the fact table, one Exchange for the "
        "(xtile, ytile) groupBy with map-side partials; the quadkey string "
        "concat runs per-TILE after the aggregation.",
        tile_xyz_export(pages_full, z=11),
    )
    section(
        "per-host quota (host_cap)",
        "One Exchange partitioning by host; the Window sort is per-host "
        "(spillable single-task sort for a monster host, never quadratic).",
        host_cap(pages_full, cap=3),
    )
    from openaip_yaixm_to_geojson_spark.operators.text import contamination

    section(
        "benchmark decontamination",
        "Gram explode on the corpus side, distinct + BroadcastExchange on "
        "the (tiny) benchmark side, md5 keys through the join, map-side "
        "partial count per doc.",
        contamination(docs, docs.limit(1)),
    )

    from openaip_yaixm_to_geojson_spark.operators.events import asof_join, interval_join

    ev_l = spark.createDataFrame([(0, 1, 10)], "event_id bigint, user_id bigint, ts bigint")
    ev_r = spark.createDataFrame(
        [(1, 1, 5, 1.0)], "event_id bigint, user_id bigint, ts bigint, value double"
    ).select("user_id", "ts", "event_id", "value")
    section(
        "as-of join (union + carry-forward)",
        "ONE Exchange on the key feeding a single per-key Sort + Window "
        "(LAST ignorenulls carries the right payload); no range explosion, "
        "no theta join.",
        asof_join(ev_l, ev_r),
    )
    pts = spark.createDataFrame([(0, "a", 10)], "event_id bigint, key string, t bigint")
    ivs = spark.createDataFrame(
        [("a", 0, 100)], "key string, session_start bigint, session_end bigint"
    )
    section(
        "interval containment join (bucket-binned)",
        "The interval side explodes across its covering time buckets "
        "(Generate on the SMALL side); the point side adds one integer "
        "bucket key; equi-join on (key, bucket) + exact BETWEEN on "
        "candidates — never a per-key theta join.",
        interval_join(pts, ivs),
    )

    from openaip_yaixm_to_geojson_spark.operators.terms import tfidf_topk, token_rarity
    from openaip_yaixm_to_geojson_spark.operators.text import stratified_sample

    sf_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    section(
        "tf-idf top-k terms per document",
        "tf and df are map-side-partial groupBys; the vocabulary-sized df "
        "table and the one-row corpus count broadcast into the join; the "
        "per-document top-k rank filter runs as WindowGroupLimit (partial "
        "below the Exchange, final above) so only k rows per document "
        "survive the shuffle read.",
        tfidf_topk(sf_docs, k=3),
    )
    section(
        "token rarity (corpus-frequency join-back)",
        "Vocabulary counts BroadcastExchange into the exploded fact side; "
        "one map-side-partial shuffle on the document key; integer-exact "
        "sums.",
        token_rarity(sf_docs),
    )
    section(
        "stratified quota sample (banded rank selection)",
        "The stratum bulk is kept by a pure hash filter (no sort); only "
        "the boundary band reaches the Window — its Exchange input is "
        "O(quota) rows per stratum, not the stratum. Group counts and "
        "band edges ride a BroadcastExchange.",
        stratified_sample(sf_docs, quota=40, group_col="lang"),
    )

    import __spark_entry__ as entry

    from openaip_yaixm_to_geojson_spark.operators.relational import merge_upsert
    from openaip_yaixm_to_geojson_spark.operators.terms import kmv_distinct

    section(
        "MERGE / upsert snapshot consolidation",
        "The snapshot NEVER shuffles: broadcast LEFT ANTI on the touched "
        "keys + union of upserts (a full-outer formulation would "
        "sort-merge — Spark cannot broadcast any side of a full outer). "
        "The single Exchange is the tiny change-key distinct.",
        merge_upsert(sf_docs, entry._merge_changes_df(sf_docs)),
    )
    section(
        "KMV distinct sketch (salted two-level k-min merge)",
        "No per-group window rank (a web-scale stratum would sort in one "
        "task): local k smallest per (group, salt) sub-bucket, then merge "
        "the bounded survivors — both aggregation levels map-side "
        "partial.",
        kmv_distinct(sf_docs, k=16),
    )

    from openaip_yaixm_to_geojson_spark.operators.events import events_funnel

    ev_f = spark.createDataFrame(
        [(1, 7, "view", 1.0)], "event_id bigint, user_id bigint, event_type string, value double"
    ).select("event_id", "user_id", F.timestamp_seconds(F.lit(10)).alias("ts"), "event_type", "value")
    section(
        "conversion funnel (sequential pattern)",
        "Three chained map-side-partial min-aggregations, all keyed on "
        "user_id so the exchanges line up; strictly-after filters between "
        "steps; left joins assemble the stage column.",
        events_funnel(ev_f),
    )

    from openaip_yaixm_to_geojson_spark.operators.dedup import lsh_recall_monitor, simhash64
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygon_overlap_pairs
    from openaip_yaixm_to_geojson_spark.operators.terms import duplicated_span_stats, repeated_grams

    section(
        "edge-exact kNN (polygon-table, tail fallback plan)",
        "Segment index from distributed zip/explode + sequence() sampling "
        "(all codegen); the exact clamped point-to-segment projection is a "
        "pure expression over the candidate rows — Python never touches "
        "distances on this path.",
        knn_edge_ring_expansion(pages.limit(10), polygons_to_df(spark, polys)),
    )
    section(
        "polygon-polygon overlap join",
        "Cover self-join on `cell` (candidates deduped) -> per-pair exact "
        "refine (even-odd + proper-cross) as one ArrowEvalPython over the "
        "FEW candidate pairs; ring payloads never ride the cell join.",
        polygon_overlap_pairs(spark, polys),
    )
    section(
        "64-bit SimHash (Arrow kernel)",
        "One ArrowEvalPython stage, zero exchanges: one md5 per token vs "
        "the 64-fold expression twin's md5-per-element-per-bit.",
        sf_docs.select(simhash64(F.col("text"))),
    )
    section(
        "repeated cross-document grams",
        "Two map-side-partial exchanges ((key, gram) then gram); the "
        "distinct-document count is COUNT(*) over the pre-aggregated "
        "per-document rows — no COUNT DISTINCT expand.",
        repeated_grams(sf_docs),
    )
    section(
        "per-document duplicated-span stats (downstream of checkpoint)",
        "The (doc, gram) level is localCheckpoint-ed (its two consumers "
        "optimize to different subtrees — no exchange reuse, the explode "
        "would run twice); downstream shows NO rescan/re-explode, just the "
        "gram join-back and the per-document aggregate.",
        duplicated_span_stats(sf_docs),
    )
    section(
        "LSH recall monitor",
        "Three one-row aggregates (sample size, exact truth pairs, "
        "verified LSH pairs) cross-joined via BroadcastNestedLoopJoin of "
        "single rows; the sampled corpus is checkpointed once for its "
        "three consumers.",
        lsh_recall_monitor(sf_docs),
    )

    from openaip_yaixm_to_geojson_spark.operators.relational import range_partition_plan
    from openaip_yaixm_to_geojson_spark.operators.terms import bm25_topk
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_nearest_airspace

    section(
        "BM25 top-k document ranking (log-free)",
        "The filtered (doc, query-term) tf frame is checkpointed for its "
        "two consumers (df derivation + score join) — the plan shows ONE "
        "parquet scan (the corpus stats branch); df and stats enter as "
        "BroadcastExchanges; the global top-k is a rank-filtered Window.",
        bm25_topk(sf_docs, k=5),
    )
    section(
        "tile-center nearest airspace (kNN on aggregated keys)",
        "The corpus reduces to occupied tiles FIRST (one map-side-partial "
        "exchange); the exact segment distance is a codegen expression "
        "over broadcast tile centers x the segment list — distance work "
        "scales with #tiles, never with #pages.",
        tile_nearest_airspace(pages, polys),
    )
    section(
        "equi-depth range-partitioner boundaries",
        "Value-granularity histogram (map-side partial) -> window over "
        "sorted DISTINCT values only (the corpus is never globally "
        "ranked) -> broadcast edge table -> value-based bin assignment.",
        range_partition_plan(sf_docs, n_bins=8),
    )

    from openaip_yaixm_to_geojson_spark.operators.similarity import kmeans_iterate
    from openaip_yaixm_to_geojson_spark.operators.terms import bpe_phrase_merge, charlm_surprisal
    from openaip_yaixm_to_geojson_spark.operators.text import span_scrub
    from openaip_yaixm_to_geojson_spark.operators.web import synth_linked_pages, web_prefilter

    section(
        "char-bigram LM surprisal (log-free, r6)",
        "Bigrams from arrays_zip of two shifted slices (the split runs "
        "once per ROW — substr-in-lambda would re-seek per element); "
        "(doc, bigram) aggregation is the only corpus-sized exchange; the "
        "charset^2 vocab and its bit-length table come back as a "
        "BroadcastExchange over the checkpointed stream.",
        charlm_surprisal(sf_docs),
    )
    section(
        "BPE phrase-merge step (relational non-overlap, r6)",
        "One doc-keyed exchange drives every window (lead site flags, "
        "running site count, island parity rank); the site/tail joins are "
        "co-partitioned on (doc, pos); the best pair enters as a one-row "
        "BroadcastExchange.",
        bpe_phrase_merge(sf_docs),
    )
    section(
        "duplicated-span scrub (r6)",
        "Hot grams from (doc, digest)-level counts (gram text never "
        "shuffles); cover positions expand via bounded sequence(); the "
        "scrub is a co-partitioned LEFT ANTI on (doc, pos); ordered "
        "rebuild aggregates once per doc.",
        span_scrub(sf_docs),
    )
    section(
        "two-round Lloyd k-means (r6)",
        "Round-1 assignment rides the broadcast seed table; the round-1 "
        "frame is checkpointed for its three consumers; round-2 centroids "
        "are a k-row BroadcastExchange — the only surviving parquet scans "
        "are the pushed vec_id < k seed scans.",
        kmeans_iterate(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")),
    )
    section(
        "composed crawl pre-filter (r6)",
        "Canonicalization is pure regex codegen; the canonical dedup is "
        "one digest-keyed exchange (checkpointed representative frame); "
        "robots rules broadcast; the host quota runs as WindowGroupLimit.",
        web_prefilter(
            synth_linked_pages(spark, "/root/testdata/sf0.001").select("url")
        ),
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(out.getvalue())
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
