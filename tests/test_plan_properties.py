"""Physical-plan regression tests: the scale-critical plan properties the
engine's docstrings claim (broadcast fact-side joins, column pruning,
shuffle counts, rank-limit pushdown) asserted against the actual executed
plans, so a refactor that silently degrades a plan fails loudly."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages(spark):
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    return pages_from_documents(spark, SF_DIR)


def test_spatial_join_broadcasts_and_never_shuffles_facts(spark, pages):
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, spatial_join

    # the polygon side as a driver list and as a polygons table; the
    # winding-number refine is part of the broadcast join's condition, so
    # no Python runs on the page side. A table's only Python is its
    # polyfill on the build side of the broadcast.
    for polys in (fixture_polygons(), polygons_to_df(spark, fixture_polygons())):
        plan = plan_of(spatial_join(pages, polys))
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # zero fact shuffles
        join_line = next(line for line in plan.splitlines() if "BroadcastHashJoin" in line)
        assert "aggregate(edges" in join_line, join_line
        python_lines = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
        if isinstance(polys, list):
            assert not python_lines, python_lines
        else:
            assert len(python_lines) == 1 and "cover_cells(ring" in python_lines[0], python_lines


def test_contamination_scan_prunes_columns(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(contamination(docs, docs.where(F.col("doc_id") % 101 == 0)))
    # the parquet scan must read only the two needed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "lang" not in plan.split("ReadSchema")[1][:200]
    assert "BroadcastHashJoin" in plan


def test_host_cap_pushes_rank_limit_below_exchange(spark, pages):
    from openaip_yaixm_to_geojson_spark.operators.web import host_cap

    plan = plan_of(host_cap(pages))
    # WindowGroupLimit appears twice: partial (map side, before the
    # exchange) and final — at most cap rows per host shuffle per map task
    assert plan.count("WindowGroupLimit") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_tile_xyz_export_shuffles_only_tiles(spark, pages):
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_xyz_export

    plan = plan_of(tile_xyz_export(pages))
    # two-phase distinct aggregate = exactly two exchanges, both keyed on
    # tile coordinates (pre-aggregated rows), none on the fact table
    assert plan.count("Exchange hashpartitioning") == 2
    assert "ArrowEvalPython" not in plan  # codegen only, no Python


def test_asof_join_single_exchange_single_window(spark):
    from openaip_yaixm_to_geojson_spark.operators.events import asof_join

    left = spark.createDataFrame([(0, 1, 10)], "event_id bigint, user_id bigint, ts bigint")
    right = spark.createDataFrame(
        [(1, 1, 5, 1.0)], "event_id bigint, user_id bigint, ts bigint, value double"
    ).select("user_id", "ts", "event_id", "value")
    plan = plan_of(asof_join(left, right))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_interval_join_explodes_interval_side_only(spark):
    from openaip_yaixm_to_geojson_spark.operators.events import interval_join

    pts = spark.createDataFrame([(0, "a", 10)], "event_id bigint, key string, t bigint")
    ivs = spark.createDataFrame(
        [("a", 0, 100)], "key string, session_start bigint, session_end bigint"
    )
    plan = plan_of(interval_join(pts, ivs))
    assert plan.count("Generate explode") == 1  # intervals explode, points never
    assert "BroadcastNestedLoopJoin" not in plan  # binning defeated the theta join
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The engine's documented skew backstop: with a 95%-hot join key and
    thresholds scaled to fixture size, AQE must mark the sort-merge join
    skew=true and re-plan the shuffle read (splitting the hot partition)
    at runtime. The executed plan of the SAME queryExecution carries the
    markers only after its own action runs."""
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 95, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("r").alias("rv"))
        j = left.join(right, "k")
        assert len(j.collect()) > 0
        plan = plan_of(j)
        assert "skew=true" in plan
        assert "AQEShuffleRead" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_repeated_grams_two_shuffles_pure_codegen(spark):
    from openaip_yaixm_to_geojson_spark.operators.terms import repeated_grams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(repeated_grams(docs))
    # (key, gram) aggregate + per-gram aggregate: exactly two exchanges,
    # one parquet scan, no Python anywhere
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("FileScan parquet") == 1
    assert "EvalPython" not in plan


def test_duplicated_span_stats_single_pass_materialized(spark):
    """The (doc, gram) level feeds two consumers whose subtrees optimize
    differently (no exchange reuse possible) — without the localCheckpoint
    the corpus-sized explode + aggregate ran TWICE (caught in r4: two
    FileScan/Generate pairs in the executed plan)."""
    from openaip_yaixm_to_geojson_spark.operators.terms import duplicated_span_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = duplicated_span_stats(docs)
    out.count()
    plan = plan_of(out)
    # r7: dg is a columnar persist (one corpus explode per session, not per
    # invocation); the scan/Generate now appear ONLY inside the cached
    # relation's printed build plan (containment precedent) — the pin is
    # both consumers reading the cache, and the live section (everything
    # before the first InMemoryRelation build plan) free of scans/explodes.
    assert plan.count("InMemoryTableScan") >= 2
    live = plan.split("InMemoryRelation")[0]
    assert "FileScan parquet" not in live and "Generate explode" not in live
    # the build plan inside InMemoryRelation prints its own exchanges —
    # bound only the LIVE ones
    assert live.count("Exchange hashpartitioning") <= 3


def test_knn_edge_fast_path_no_shuffle(spark, pages):
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_edge_ring_expansion

    plan = plan_of(knn_edge_ring_expansion(pages, fixture_polygons()))
    # tiny-input exact path: one Arrow batch scan, zero exchanges
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("ArrowEvalPython") == 1


def test_simhash64_kernel_no_shuffle(spark):
    from openaip_yaixm_to_geojson_spark.operators.dedup import simhash64

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(docs.select(simhash64(F.col("text"))))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_events_retention_single_pass(spark):
    """(user, day) distinct feeds both the cohort aggregate and the join;
    AQE's broadcast conversion breaks exchange-reuse symmetry, so without
    the localCheckpoint the corpus-sized distinct ran twice (r4 audit)."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_retention

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(events_retention(ev))
    assert plan.count("FileScan parquet") == 0  # downstream of the checkpoint
    assert plan.count("Exchange hashpartitioning") <= 2


def test_polygon_overlap_table_cover_single_eval(spark):
    """The cover feeds both sides of the candidate self-join — without the
    localCheckpoint a table's pandas-UDF cover executed once per side (r4
    audit: two ArrowEvalPython stages). Both pair joins, over a list and a
    table, refine in one mapInPandas and evaluate no pandas UDF."""
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.spatial import (
        polygon_contains_pairs,
        polygon_overlap_pairs,
        polygons_to_df,
    )

    for op in (polygon_overlap_pairs, polygon_contains_pairs):
        for polys in (fixture_polygons(), polygons_to_df(spark, fixture_polygons())):
            plan = plan_of(op(spark, polys))
            assert plan.count("ArrowEvalPython") == 0, (op.__name__, plan)
            assert plan.count("MapInPandas") == 1, (op.__name__, plan)


def test_self_join_operators_single_source_pass(spark):
    """r4 audit: self-join operators re-derived their expensive upstream
    once per consumer (simhash sketches up to 4x, shingles 2x, the
    triangle edge subtree 18x). All three now materialize the multi-
    consumer frame — no source scan, sketch kernel, or shingle build
    survives downstream of the checkpoint."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_neardup_pairs,
    )
    from openaip_yaixm_to_geojson_spark.operators.graph import (
        synth_link_graph,
        triangle_count,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(simhash_neardup_pairs(docs, max_hamming=3, n_bits=64))
    assert p.count("ArrowEvalPython") == 0 and p.count("FileScan parquet") == 0
    p = plan_of(ngram_jaccard_pairs(docs))
    assert p.count("FileScan parquet") == 0
    # triangle (r7): und/e are columnar persists — scans now appear only
    # inside the printed InMemoryRelation build plans; the LIVE section
    # (before the first cached build plan) must stay scan-free, with both
    # cache reads present
    p = plan_of(triangle_count(synth_link_graph(docs)))
    assert "FileScan parquet" not in p.split("InMemoryRelation")[0]
    assert p.count("InMemoryTableScan") >= 3


def test_pmi_and_embedding_neardup_single_pass(spark):
    """r4 audit continued: bigram_pmi's unigram table fed three consumers
    (4 corpus explodes total); embedding_neardup's norms/buckets evaluated
    once per self-join side. Both now materialize."""
    from openaip_yaixm_to_geojson_spark.operators.similarity import embedding_neardup_pairs
    from openaip_yaixm_to_geojson_spark.operators.terms import bigram_pmi

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(bigram_pmi(docs))
    assert p.count("FileScan parquet") == 1 and p.count("Generate") == 1
    p = plan_of(embedding_neardup_pairs(emb))
    assert p.count("FileScan parquet") == 0


def test_local_supplier_revenue_broadcasts_dims_two_fact_shuffle_joins(spark):
    from openaip_yaixm_to_geojson_spark.operators.relational import (
        local_supplier_revenue,
        table,
    )

    out = local_supplier_revenue(
        *[table(spark, SF_DIR, t) for t in
          ("customer", "orders", "lineitem", "supplier", "nation", "region")]
    )
    plan = plan_of(out)
    # region->nation and supplier ride broadcasts; only the two fact joins
    # (orders-customer by custkey, lineitem by orderkey) shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2
    # date filter reaches the orders parquet scan (r7: without the excluded
    # InferFiltersFromConstraints rule there is no leading IsNotNull; the
    # explicit date range predicates still push)
    assert "GreaterThanOrEqual(o_orderdate" in plan and "LessThan(o_orderdate" in plan


def test_bloom_contamination_broadcasts_filter_words(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import bloom_contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(bloom_contamination(docs, docs.where(F.col("doc_id") % 101 == 0)))
    # the dense bitmap is ONE broadcast row cross-joined into the probe
    # stream (membership tests are pure expressions); the probe stream
    # itself never broadcasts, collects, or explodes per-probe
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan  # pure codegen probes


def test_link_extract_is_narrow_and_host_graph_single_exchange(spark):
    from openaip_yaixm_to_geojson_spark.operators.web import (
        extract_links,
        host_link_graph,
        synth_linked_pages,
    )

    pages = synth_linked_pages(spark, SF_DIR)
    # decode+regex+explode stay narrow: no ALGORITHMIC (hash) shuffle. The
    # only exchange allowed is the adaptive scan fan-out (roundrobin) that
    # synth_linked_pages applies to narrow small-file scans (plans/fanout.py).
    extract_plan = plan_of(extract_links(pages))
    assert "Exchange hashpartitioning" not in extract_plan
    graph_plan = plan_of(host_link_graph(pages))
    assert graph_plan.count("Exchange hashpartitioning") == 1  # the rollup only


def test_r4_continuation_fanout_frames_materialized(spark, pages):
    """Round-4 continuation operators with multi-consumer frames: the
    expensive upstream (fact aggregation, paragraph explode, shingle
    dedupe, vocab distinct, link rollup) is materialized once — no
    parquet scan and no paragraph/shingle regex work survives downstream
    of the checkpoint in the final plan."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import containment_pairs
    from openaip_yaixm_to_geojson_spark.operators.events import events_resample
    from openaip_yaixm_to_geojson_spark.operators.terms import lang_vocab_overlap
    from openaip_yaixm_to_geojson_spark.operators.web import (
        boilerplate_scrub,
        co_citation,
        reciprocal_links,
        synth_html_pages,
        synth_linked_pages,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert plan_of(events_resample(ev)).count("FileScan parquet") == 0
    # containment (r7): ds/rare are columnar-persisted instead of
    # checkpointed (the cache preserves the hash(sh) partitioning, so the
    # df aggregation and rare join run exchange-free); consumers read
    # InMemoryTableScans — FileScans now appear only inside the cached
    # relations' printed build plans, so the old ==0 count no longer
    # applies. The materialize-once pin is the presence of BOTH cache
    # scans (ds + rare) in the executed plan.
    cont_plan = plan_of(containment_pairs(docs))
    assert cont_plan.count("InMemoryTableScan") >= 2
    assert plan_of(lang_vocab_overlap(docs)).count("FileScan parquet") == 0
    html = synth_html_pages(spark, SF_DIR)
    p = plan_of(boilerplate_scrub(html))
    assert p.count("FileScan parquet") == 0 and "regexp_extract_all" not in p
    linked = synth_linked_pages(spark, SF_DIR)
    assert plan_of(co_citation(linked)).count("FileScan parquet") == 0
    assert plan_of(reciprocal_links(linked)).count("FileScan parquet") == 0
    # edit_distance_pairs: the DP must run on the materialized candidate
    # frame, never inside the join condition (Catalyst pushes a post-join
    # filter INTO the join, running the O(len x threshold) DP on every
    # block-equal pair — measured 12.5k DPs for 347 candidates, 4.5x the
    # operator runtime)
    from openaip_yaixm_to_geojson_spark.operators.dedup import edit_distance_pairs

    p = plan_of(edit_distance_pairs(docs))
    # the candidate join lives INSIDE the cached relation (r7: persist —
    # the same pushdown barrier as the old checkpoint): the LIVE plan has
    # no join at all — the levenshtein Filter sits directly on the
    # materialized candidates read from cache
    live = p.split("InMemoryRelation")[0]
    assert "FileScan parquet" not in live and "levenshtein" in live
    assert "Join" not in live and "InMemoryTableScan" in p


def test_minhash_verify_filter_above_checkpoint(spark):
    """minhash_lsh_pairs (r7): the jaccard threshold filter must run on the
    materialized (key_a, key_b, jaccard) frame, never inside the verify
    join — Catalyst pushes a post-join filter INTO the key_b join
    condition, where the array_intersect is evaluated twice per pair (join
    predicate + output projection, no cross-node CSE). The final plan is a
    Filter directly over the checkpoint scan: no joins, no array ops."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(minhash_lsh_pairs(docs))
    assert "Join" not in p and "array_intersect" not in p
    assert "jaccard" in p  # filter on the materialized score column


def test_bm25_topk_tf_materialized_single_scan(spark, monkeypatch):
    """bm25_topk: the filtered (doc, query-term) tf frame feeds TWO
    consumers (df derivation + score join) and is materialized once —
    r7: via columnar persist (so a session runs the corpus tokenize pass
    once), which means FileScans now appear only inside the cached
    relations' printed build plans (containment precedent); the pin is
    BOTH cache scans (tf + stats) present, with df and stats entering as
    broadcasts."""
    from openaip_yaixm_to_geojson_spark.operators import terms
    from openaip_yaixm_to_geojson_spark.operators.terms import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    monkeypatch.setattr(terms, "BM25_K", 5)
    out = bm25_topk(docs)
    out.count()
    p = plan_of(out)
    assert p.count("InMemoryTableScan") >= 2
    assert p.count("BroadcastExchange") >= 2


def test_r6_fanout_frames_materialized(spark):
    """Round-6 multi-consumer frames are materialized once: charlm's
    (doc,bigram) stream + corpus vocab, anchor rollup's (link,text)
    counts, kmeans_iterate's round-1 assignment, sketch_quantiles'
    cumulative histogram — no parquet scan (and no regex/split work)
    survives downstream of the checkpoints in the final plan."""
    from openaip_yaixm_to_geojson_spark.operators.relational import sketch_quantiles
    from openaip_yaixm_to_geojson_spark.operators.similarity import kmeans_iterate
    from openaip_yaixm_to_geojson_spark.operators.terms import charlm_surprisal
    from openaip_yaixm_to_geojson_spark.operators.web import (
        anchor_target_stats,
        link_hits,
        synth_linked_pages,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # charlm (r7 shape): the bits table derives from the materialized
    # charset^2-sized corpus_bg (persisted — its execution IS the whole
    # pass-1 corpus explode, paid once per session); the surviving live
    # scan + split is the deliberate second bigram pass, which replaces the
    # r6 (doc,bigram) pre-aggregation + corpus-sized checkpoint (measured
    # strictly faster: recomputing the codegen explode beats shuffling and
    # writing the corpus-x-bigram frame). FileScans inside the cached
    # relation's printed build plan don't re-execute (containment
    # precedent) — the pins are the cache scan AND the bits lookup staying
    # a broadcast hash join (the bigram stream never shuffles by bigram).
    out = charlm_surprisal(docs)
    out.count()
    p = plan_of(out)
    assert p.count("InMemoryTableScan") >= 1
    assert "BroadcastHashJoin" in p
    linked = synth_linked_pages(spark, SF_DIR)
    p = plan_of(anchor_target_stats(linked))
    assert p.count("FileScan parquet") == 0 and "regexp_extract_all" not in p
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # the fact side is checkpointed (a1); the only surviving scans are the
    # k-row SEED scans with the vec_id < 8 filter pushed into parquet
    p = plan_of(kmeans_iterate(emb))
    scans = [ln for ln in p.splitlines() if "FileScan parquet" in ln]
    assert scans and all("(vec_id" in ln and "< 8)" in ln for ln in scans)
    assert plan_of(sketch_quantiles(docs)).count("FileScan parquet") == 0
    # link_hits: every per-round join reads the checkpointed edge RDD,
    # never re-runs the href regex
    p = plan_of(link_hits(linked))
    assert p.count("FileScan parquet") == 0 and "regexp_extract_all" not in p


def test_infer_filters_exclusion_keeps_inner_join_rows(spark):
    """plans/session.py excludes InferFiltersFromConstraints. The isnotnull
    filters it would infer only drop rows that an inner equi-join drops
    anyway, so a join on a nullable DERIVED key with null keys on both sides
    returns the same rows with the rule excluded and with Spark's defaults."""
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
    assert rule in spark.conf.get("spark.sql.optimizer.excludedRules", "")
    default = spark.newSession()
    default.conf.unset("spark.sql.optimizer.excludedRules")
    assert rule not in (default.conf.get("spark.sql.optimizer.excludedRules", None) or "")

    def joined(session):
        # every third id has a NULL key on each side
        key = F.when(F.col("id") % 3 != 0, F.col("id") % 7)
        left = session.range(60).select(F.col("id").alias("l"), key.alias("k"))
        right = session.range(0, 90, 2).select(F.col("id").alias("r"), key.alias("k"))
        return left.join(right, "k")

    tuned, untuned = joined(spark), joined(default)
    # the rule runs only in the default session: the join sides get isnotnull
    assert "isnotnull" not in plan_of(tuned)
    assert "isnotnull" in plan_of(untuned)
    rows = sorted(tuple(r) for r in tuned.collect())
    assert rows == sorted(tuple(r) for r in untuned.collect())
    assert rows and all(r[0] is not None for r in rows)
