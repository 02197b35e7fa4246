"""Term-level corpus analytics (operators/terms.py): hand-computed
functional pins on a tiny corpus plus the scale-critical plan properties
(broadcast vocabulary joins, rank-limit pushdown, df_cap routing)."""

import pytest
from pyspark.sql import functions as F

from openaip_yaixm_to_geojson_spark.operators.terms import (
    bigram_pmi,
    inverted_index,
    kmv_distinct,
    tfidf_topk,
    token_rarity,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (0, "a b a c", "s0"),
        (1, "a b", "s0"),
        (2, "c c c d", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, source string")


def test_inverted_index_postings_sorted(tiny):
    out = {r["term"]: r for r in inverted_index(tiny).collect()}
    assert out["a"]["doc_freq"] == 2 and out["a"]["postings"] == "0,1"
    assert out["c"]["doc_freq"] == 2 and out["c"]["postings"] == "0,2"
    assert out["d"]["doc_freq"] == 1 and out["d"]["postings"] == "2"


def test_inverted_index_df_cap_routes_hot_terms_around_collect(tiny):
    out = {r["term"]: r for r in inverted_index(tiny, df_cap=1).collect()}
    # hot terms (df > cap) keep the exact doc_freq but skip the collect
    assert out["a"]["doc_freq"] == 2 and out["a"]["postings"] is None
    assert out["d"]["doc_freq"] == 1 and out["d"]["postings"] == "2"
    # capped and uncapped agree wherever both emit postings
    full = {r["term"]: r["postings"] for r in inverted_index(tiny).collect()}
    for term, row in out.items():
        if row["postings"] is not None:
            assert row["postings"] == full[term]


def test_tfidf_topk_ranking(tiny):
    # doc 0: tf(a)=2 df(a)=2 -> 2*(3/2)=3.0 ; tf(b)=1 df=2 -> 1.5 ;
    # tf(c)=1 df(c)=2 -> 1.5 (tie with b -> b first by term order)
    rows = tfidf_topk(tiny).where(F.col("key") == 0).orderBy("rank").collect()
    assert [(r["rank"], r["term"], r["score"]) for r in rows] == [
        (1, "a", 3.0),
        (2, "b", 1.5),
        (3, "c", 1.5),
    ]


def test_tfidf_plan_broadcasts_and_pushes_rank_limit(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(tfidf_topk(docs))
    assert "BroadcastHashJoin" in plan  # df join
    assert "BroadcastNestedLoopJoin" in plan  # one-row corpus count
    assert "WindowGroupLimit" in plan  # top-k pushed below the shuffle read


def test_kmv_distinct_estimator(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = kmv_distinct(docs).collect()
    assert rows, "no groups"
    for r in rows:
        if r["n_exact"] < 16:
            assert r["kth_min"] is None and r["kmv_estimate"] is None
        else:
            # KMV with k=16 is coarse; just pin the estimator's sanity band
            assert r["kth_min"] > 0
            assert 0.2 * r["n_exact"] < r["kmv_estimate"] < 5.0 * r["n_exact"]


def test_kmv_small_group_yields_null_sketch(tiny):
    rows = {r["grp"]: r for r in kmv_distinct(tiny).collect()}
    assert rows["s0"]["n_exact"] == 3  # a, b, c
    assert rows["s0"]["kth_min"] is None and rows["s0"]["kmv_estimate"] is None


def test_bigram_pmi_exact_counts(tiny):
    # corpus tokens: a b a c | a b | c c c d -> N=10
    # bigram "c c": c_ab=2, c_a=c_b=c(c)=4 -> ratio = 2*10/16 = 1.25
    rows = {r["gram"]: r for r in bigram_pmi(tiny).collect()}
    r = rows["c c"]
    assert (r["c_ab"], r["c_a"], r["c_b"], r["n_tokens"]) == (2, 4, 4, 10)
    assert r["pmi_ratio"] == 1.25
    # "c d" occurs once: 1*10/(4*1) = 2.5 — ranks above "c c"
    ordered = [r["gram"] for r in bigram_pmi(tiny).collect()]
    assert ordered.index("c d") < ordered.index("c c")


def test_token_rarity_exact(tiny):
    # freqs: a=3 b=2 c=4 d=1 ; doc 2 = c c c d -> sum 13, mean 3.25
    rows = {r["key"]: r for r in token_rarity(tiny).collect()}
    assert rows[2]["n_tokens"] == 4
    assert rows[2]["freq_sum"] == 13
    assert rows[2]["mean_token_freq"] == 3.25


def test_token_rarity_plan_broadcasts_vocab(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(token_rarity(docs))
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_exact_quotas(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = stratified_sample(docs)
    sizes = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    truth = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {g: min(40, n) for g, n in truth.items()}


def test_stratified_sample_matches_full_rank_definition(spark):
    """The banded selection must equal the straightforward 'quota smallest
    (hash, key) per group' definition computed with a full-stratum rank."""
    from pyspark.sql import Window

    from openaip_yaixm_to_geojson_spark.operators.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint")
    w = Window.partitionBy("grp").orderBy("h", "key")
    ref = (
        docs.select(F.col("doc_id").alias("key"), F.col("lang").alias("grp"), h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 40)
        .select("key", "grp")
    )
    got = stratified_sample(docs)
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_stratified_sample_band_miss_raises(spark, monkeypatch):
    """A vanishing band (delta=0) cannot cover the quota — the operator
    must raise its deterministic failure signal, never return an inexact
    stratum."""
    from openaip_yaixm_to_geojson_spark.operators import text
    from openaip_yaixm_to_geojson_spark.operators.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    monkeypatch.setattr(text, "STRATIFIED_DELTA", 0.0)
    with pytest.raises(RuntimeError, match="band miss"):
        stratified_sample(docs)


def test_corpus_cube_combinations(tiny):
    from openaip_yaixm_to_geojson_spark.operators.relational import corpus_cube

    docs = tiny.withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text").cast("bigint"))
    rows = corpus_cube(docs).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    grand = by_gid[3][0]
    assert grand["n_docs"] == 3 and grand["lang"] is None and grand["source"] is None
    # every rollup level sums to the same totals
    for gid in (0, 1, 2):
        assert sum(r["n_docs"] for r in by_gid[gid]) == 3
        assert sum(r["sum_chars"] for r in by_gid[gid]) == grand["sum_chars"]


def test_chunk_documents_overlap_and_clamp(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(0, "t0 t1 t2 t3 t4 t5 t6")], "doc_id bigint, text string")
    rows = sorted(
        chunk_documents(docs, size=4, stride=2).collect(), key=lambda r: r["chunk_id"]
    )
    assert [(r["chunk_id"], r["chunk_start"], r["chunk_tokens"], r["chunk_text"]) for r in rows] == [
        (0, 0, 4, "t0 t1 t2 t3"),
        (1, 2, 4, "t2 t3 t4 t5"),
        (2, 4, 3, "t4 t5 t6"),  # clamped final chunk
        (3, 6, 1, "t6"),
    ]
    with pytest.raises(ValueError):
        chunk_documents(docs, size=4, stride=5)


def test_chunk_documents_plan_no_shuffle(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import QUERY_CHUNK_SIZE, QUERY_CHUNK_STRIDE, chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(chunk_documents(docs, QUERY_CHUNK_SIZE, QUERY_CHUNK_STRIDE))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan  # pure codegen


def test_pack_documents_offsets_contiguous(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import PACK_CAPACITY, pack_documents

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = pack_documents(docs)
    rows = out.collect()
    # per stream: offsets are the exclusive prefix sums of n_tokens in
    # deterministic order — sorted offsets must tile [0, total) exactly
    by_stream = {}
    for r in rows:
        by_stream.setdefault(r["stream"], []).append((r["tok_offset"], r["n_tokens"]))
    for stream, docs_in in by_stream.items():
        docs_in.sort()
        expect = 0
        for off, n in docs_in:
            assert off == expect
            expect = off + n
    # window assignment is offset // capacity
    assert all(r["window_id"] == r["tok_offset"] // PACK_CAPACITY for r in rows)
    # parallelism-independence: identical assignment after a repartition
    again = pack_documents(docs.repartition(13))
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_triangle_count_k4_with_noise(spark):
    """K4 (4 triangles, each vertex in 3) fed as messy directed edges:
    duplicates, both directions, self-loops — all collapsed by the
    canonical-edge dedup before counting."""
    from openaip_yaixm_to_geojson_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both dirs
    edges = spark.createDataFrame(
        k4 + [(0, 0), (1, 1), (0, 1), (2, 3)], "src bigint, dst bigint"
    )
    rows = {r["vertex"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_path_has_none(spark):
    from openaip_yaixm_to_geojson_spark.operators.graph import triangle_count

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src bigint, dst bigint")
    assert triangle_count(path).count() == 0


def test_profile_table_nulls_and_stats(spark):
    from openaip_yaixm_to_geojson_spark.operators.relational import profile_table

    df = spark.createDataFrame(
        [(1, "b"), (2, None), (2, "a")], "k bigint, s string"
    )
    rows = {r["column_name"]: r for r in profile_table(df, ["k", "s"]).collect()}
    assert rows["k"]["n_rows"] == 3 and rows["k"]["n_nonnull"] == 3
    assert rows["k"]["n_distinct"] == 2
    assert (rows["k"]["min_value"], rows["k"]["max_value"]) == ("1", "2")
    assert rows["s"]["n_nonnull"] == 2 and rows["s"]["n_distinct"] == 2
    assert (rows["s"]["min_value"], rows["s"]["max_value"]) == ("a", "b")


def test_kmv_merge_equals_full_rank(spark, monkeypatch):
    """The salted two-level k-min merge must produce exactly the k
    smallest hashes' kth element — verified against a direct full sort
    with a tiny salt count (worst case for the merge)."""
    from pyspark.sql import Window

    from openaip_yaixm_to_geojson_spark.operators import terms

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    monkeypatch.setattr(terms, "KMV_SALTS", 2)
    merged = {r["grp"]: r["kth_min"] for r in kmv_distinct(docs).collect()}
    h = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint")
    pairs = (
        docs.select(F.col("source").alias("grp"), F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .distinct()
        .select("grp", h.alias("h"))
    )
    w = Window.partitionBy("grp").orderBy("h")
    ref = {
        r["grp"]: r["h"]
        for r in pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 16).collect()
    }
    assert merged == ref


def test_merge_upsert_semantics(spark):
    from openaip_yaixm_to_geojson_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "keep"), (2, "old"), (3, "gone")], "doc_id bigint, text string"
    )
    changes = spark.createDataFrame(
        [(2, "new", "upsert"), (3, None, "delete"), (9, "born", "upsert")],
        "doc_id bigint, text string, op string",
    )
    got = {r["doc_id"]: r["text"] for r in merge_upsert(base, changes).collect()}
    assert got == {1: "keep", 2: "new", 9: "born"}


def test_session_window_native_boundary_semantics(spark):
    """Pin session_window's boundary rule: an event exactly gap seconds
    after the previous MERGES (touching windows coalesce; split only on
    delta > gap) — the same rule as the lag/cumsum twin, and the rule the
    oracle recomputes. One second beyond the gap splits."""
    from openaip_yaixm_to_geojson_spark.operators.events import (
        user_sessions,
        user_sessions_native,
    )

    ev = spark.createDataFrame(
        [(1, 7, 0), (2, 7, 1800), (3, 7, 1800 + 1801)],
        "event_id bigint, user_id bigint, t bigint",
    ).select("event_id", "user_id", F.timestamp_seconds("t").alias("ts"))
    expected = [(0, 1800, 2), (3601, 3601, 1)]
    native = user_sessions_native(ev).collect()
    lagged = user_sessions(ev).collect()
    assert sorted((r["session_start"], r["session_end"], r["n_events"]) for r in native) == expected
    assert sorted((r["session_start"], r["session_end"], r["n_events"]) for r in lagged) == expected


def test_merge_upsert_plan_never_shuffles_base(spark):
    """Full-outer would sort-merge (both sides shuffle); the anti+union
    decomposition keeps the snapshot shuffle-free — the only Exchange is
    the tiny touched-keys distinct, and the anti join broadcasts."""
    import __spark_entry__ as e
    from openaip_yaixm_to_geojson_spark.operators.relational import merge_upsert

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(merge_upsert(docs, e._merge_changes_df(docs)))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # change-keys distinct only


def test_chunk_documents_invariants_exhaustive(spark):
    """All lengths 1..40 x three (size, stride) shapes in one job per
    shape: starts are exactly the stride multiples below n, every token
    index is covered, non-final chunks are full-size, and concatenating
    each chunk's first `stride` tokens reconstructs the document."""
    from openaip_yaixm_to_geojson_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(n, " ".join(f"w{n}_{i}" for i in range(n))) for n in range(1, 41)],
        "doc_id bigint, text string",
    )
    for size, stride in [(4, 2), (8, 8), (5, 3)]:
        rows = chunk_documents(docs, size=size, stride=stride).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["key"], []).append(r)
        for n, chunks in by_doc.items():
            chunks.sort(key=lambda r: r["chunk_start"])
            starts = [r["chunk_start"] for r in chunks]
            assert starts == list(range(0, n, stride))
            covered = set()
            for r in chunks:
                toks = r["chunk_text"].split(" ")
                assert len(toks) == r["chunk_tokens"] == min(size, n - r["chunk_start"])
                if r["chunk_start"] + size <= n:
                    assert r["chunk_tokens"] == size
                covered.update(range(r["chunk_start"], r["chunk_start"] + r["chunk_tokens"]))
                assert toks == [f"w{n}_{i}" for i in range(r["chunk_start"], r["chunk_start"] + r["chunk_tokens"])]
            assert covered == set(range(n))
            # stride-aligned reconstruction
            rebuilt = []
            for r in chunks:
                rebuilt.extend(r["chunk_text"].split(" ")[:stride])
            assert rebuilt == [f"w{n}_{i}" for i in range(n)]
        assert set(by_doc) == set(range(1, 41))


def test_events_funnel_strict_ordering(spark):
    """Hand-built timeline: the step-2 candidate BEFORE step-1 must not
    count; equal timestamps are not 'after' (strict); stage reflects the
    deepest step reached in order."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_funnel

    rows = [
        # user 1: click before view (ignored), then proper view->click->purchase
        (1, "click", 5), (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: view then click at the SAME instant -> strict > fails -> stage 1
        (2, "view", 10), (2, "click", 10),
        # user 3: view then click, purchase missing -> stage 2
        (3, "view", 1), (3, "click", 2),
        # user 4: no view at all -> absent from output
        (4, "purchase", 9),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, event_type string, s bigint").select(
        "user_id", "event_type", F.timestamp_seconds("s").alias("ts")
    )
    out = {r["user_id"]: r for r in events_funnel(ev).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["t1"], out[1]["t2"], out[1]["t3"], out[1]["stage"]) == (
        10_000_000, 20_000_000, 30_000_000, 3)
    assert out[2]["stage"] == 1 and out[2]["t2"] is None
    assert out[3]["stage"] == 2 and out[3]["t3"] is None


def test_stratified_sample_null_stratum_kept(spark, monkeypatch):
    """A NULL group column is a legitimate stratum: groupBy, the window
    and the oracle's PARTITION BY all treat NULL as one group, so the
    operator's internal joins must be null-safe — a plain equi-join
    silently drops the whole stratum."""
    from openaip_yaixm_to_geojson_spark.operators import text
    from openaip_yaixm_to_geojson_spark.operators.text import stratified_sample

    monkeypatch.setattr(text, "STRATIFIED_QUOTA", 10)
    rows = [(i, "t", None if i % 2 == 0 else "en") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    sizes = {}
    for r in stratified_sample(docs).collect():
        sizes[r["grp"]] = sizes.get(r["grp"], 0) + 1
    assert sizes == {None: 10, "en": 10}


def test_chars_histogram_exact_buckets(spark):
    from openaip_yaixm_to_geojson_spark.operators.relational import chars_histogram

    docs = spark.createDataFrame(
        [(i, n) for i, n in enumerate([0, 31, 32, 63, 64, 100])],
        "doc_id bigint, n_chars bigint",
    )
    rows = {r["bucket"]: r for r in chars_histogram(docs).collect()}
    assert rows[0]["n_docs"] == 2 and rows[0]["bucket_lo"] == 0
    assert rows[0]["min_chars"] == 0 and rows[0]["max_chars"] == 31
    assert rows[1]["n_docs"] == 2 and rows[1]["bucket_lo"] == 32
    assert rows[2]["n_docs"] == 1 and rows[3]["n_docs"] == 1


def _chunk_spec(docs, size, stride):
    """Plain-Python spec of text.chunk_documents: one row per overlapping
    token window. Mirrors the JVM exactly: F.trim strips ASCII spaces only
    and Java's \\s is the ASCII class [ \\t\\n\\x0b\\f\\r] (str.split would
    also split on unicode whitespace like \\xa0); an empty string still
    yields one token [''], so empty documents emit ONE empty chunk."""
    import re

    out = []
    for r in docs.collect():
        if r["text"] is None:
            continue
        toks = re.split(r"[ \t\n\x0b\f\r]+", r["text"].strip(" "))
        for s in range(0, len(toks), stride):
            window = toks[s : s + size]
            out.append((r["doc_id"], s // stride, s, len(window), " ".join(window)))
    return sorted(out)


def _chunk_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_udtf_chunking_matches_codegen_twin(spark):
    """The plain-Python window loop is the executable spec; the production
    codegen operator must produce the identical row multiset."""
    from openaip_yaixm_to_geojson_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50).cache()
    want = _chunk_spec(docs, size=7, stride=3)
    assert _chunk_rows(chunk_documents(docs, size=7, stride=3)) == want
    assert len(want) > 0


def test_sessions_native_equals_lag_twin_on_real_events(spark):
    """With the measured >-gap rule on both paths, Catalyst's
    session_window aggregation and the lag/cumsum window must produce
    identical session tables on the real events data."""
    from openaip_yaixm_to_geojson_spark.operators.events import (
        events_from_dir,
        user_sessions,
        user_sessions_native,
    )

    ev = events_from_dir(spark, "/root/testdata/sf0.001")
    a = user_sessions_native(ev)
    b = user_sessions(ev)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_lang_percentile_rank_selection(spark):
    """p90 of 1..10 (lower/disc): rank ceil(0.9*10)=9 -> value 9; and a
    3-element group picks ceil(2.7)=3 -> the max."""
    from openaip_yaixm_to_geojson_spark.operators.text import P90_DEN, P90_NUM, lang_percentile_chars

    rows = [(i, "a", i) for i in range(1, 11)] + [(100 + i, "b", i * 10) for i in (1, 2, 3)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    got = {r["lang"]: (r["p_chars"], r["n_docs"]) for r in lang_percentile_chars(docs, P90_NUM, P90_DEN).collect()}
    assert got == {"a": (9, 10), "b": (30, 3)}


def test_sliding_windows_membership_boundaries(spark):
    """An event at t=3600 with 1h/30min windows belongs to exactly the
    windows starting 1800 and 3600 (start inclusive, end exclusive)."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_sliding_windows

    ev = spark.createDataFrame(
        [(1, 3600, "click", 1.0)], "event_id bigint, s bigint, event_type string, value double"
    ).select("event_id", F.timestamp_seconds("s").alias("ts"), "event_type", "value")
    got = sorted(r["window_start"] for r in events_sliding_windows(ev).collect())
    assert got == [1800, 3600]


def test_json_roundtrip_escaping(spark):
    """Quotes, backslashes and unicode must survive the to_json ->
    from_json cycle."""
    from openaip_yaixm_to_geojson_spark.operators.text import json_roundtrip_stats

    docs = spark.createDataFrame(
        [(0, 'he said "hi" back\\slash café', "en")],
        "doc_id bigint, text string, lang string",
    )
    r = json_roundtrip_stats(docs).collect()[0]
    assert r["n_words"] == 5  # he / said / "hi" / back\slash / café
    assert r["first_word"] == "he" and r["last_word"] == "café"


def test_udtf_matches_codegen_on_empty_text(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a b c"), (3, "a\tb\xa0c  d")], "doc_id bigint, text string"
    )
    want = _chunk_spec(docs, size=2, stride=1)
    assert _chunk_rows(chunk_documents(docs, size=2, stride=1)) == want
    assert (0, 0, 0, 1, "") in want and (1, 0, 0, 1, "") in want


def test_sliding_windows_near_epoch_floor_alignment(spark):
    """Events within one window of the epoch get a NEGATIVE first window
    start (floorDiv alignment): t=100 with 1h/30min windows belongs to
    starts -1800 and 0 — the case where truncate-toward-zero division
    silently loses a membership (the oracle floor-div fix's pin)."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_sliding_windows

    ev = spark.createDataFrame(
        [(1, 100, "click", 1.0)], "event_id bigint, s bigint, event_type string, value double"
    ).select("event_id", F.timestamp_seconds("s").alias("ts"), "event_type", "value")
    got = sorted(r["window_start"] for r in events_sliding_windows(ev).collect())
    assert got == [-1800, 0]


def test_text_operators_tolerate_null_text(spark):
    """A NULL text row must never crash a text-family operator: the
    tokenizing ops treat it as having no tokens (explode of NULL emits
    nothing -> the doc drops out; inner semantics, no exception)."""
    from openaip_yaixm_to_geojson_spark.operators.terms import (
        inverted_index,
        tfidf_topk,
        token_rarity,
    )
    from openaip_yaixm_to_geojson_spark.operators.text import (
        chunk_documents,
        ngram_repetition,
        pack_documents,
    )

    docs = spark.createDataFrame(
        [(0, None, "en", "s", None), (1, "a b", "en", "s", 3)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert inverted_index(docs).count() == 2  # terms a, b from doc 1
    assert tfidf_topk(docs).where(F.col("key") == 0).count() == 0
    assert token_rarity(docs).count() == 1
    assert chunk_documents(docs, size=2, stride=1).where(F.col("key") == 0).count() == 0
    assert ngram_repetition(docs).count() == 1
    # pack: size(split(NULL)) is -1 under legacy sizeOfNull=false? assert no crash
    packed = pack_documents(docs).collect()
    assert {r["key"] for r in packed} >= {1}


def test_embedding_quantize_bounds_and_zero_vector(spark):
    from openaip_yaixm_to_geojson_spark.operators.similarity import embedding_quantize

    emb = spark.createDataFrame(
        [(0, [0.5, -0.25, 0.0]), (1, [0.0, 0.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    rows = {r["vec_id"]: r for r in embedding_quantize(emb).collect()}
    # max-abs element maps to 127 (floor(127 + 0.5) = 127); half maps to -63
    assert rows[0]["scale"] == 0.5
    assert rows[0]["q_codes"] == "127,-63,0"
    assert rows[1]["scale"] == 0.0 and rows[1]["q_codes"] == "0,0,0"
    # plan: scale's array_max must appear ONCE (not re-inlined per element)
    plan = embedding_quantize(emb)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_max") == 1


def test_quantized_ann_recall_vs_exact(spark):
    """Quantized retrieval is an approximation of the exact float top-k —
    with int8 precision the top-3 should overlap heavily (sanity recall
    bound, not exactness: the exactness is the gate's job)."""
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        ANN_K,
        ann_topk_quantized,
        cosine_topk,
        queries_from_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_topk(emb, queries_from_embeddings(emb))
    quant = ann_topk_quantized(emb, ANN_K)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    q = {(r["query_id"], r["vec_id"]) for r in quant.collect()}
    assert len(e & q) / len(e) >= 0.6


def test_quantization_error_half_step_bound(spark):
    """floor(127x/s + 0.5) rounds to the nearest code, so reconstruction
    error is bounded by half a step: scale/254 (+ a few ulps)."""
    from openaip_yaixm_to_geojson_spark.operators.similarity import quantization_error

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for r in quantization_error(emb).collect():
        assert r["max_abs_err"] <= r["scale"] / 254.0 * (1 + 1e-9) + 1e-12


def test_quantization_error_plan_no_reinline(spark):
    from openaip_yaixm_to_geojson_spark.operators.similarity import quantization_error

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = quantization_error(emb)._jdf.queryExecution().executedPlan().toString()
    # exactly two array_max: the scale compute and the error max — a
    # CollapseProject regression would inline scale per element
    assert plan.count("array_max") == 2


def test_repeated_span_operators_hand_case(spark, monkeypatch):
    """Hand-computable repeated-span case: 'a b c' recurs across three
    docs (twice in one of them); too-short docs are absent by contract."""
    from openaip_yaixm_to_geojson_spark.operators import terms
    from openaip_yaixm_to_geojson_spark.operators.terms import (
        duplicated_span_stats,
        repeated_grams,
    )

    monkeypatch.setattr(terms, "GRAM_WIDTH", 3)

    df = spark.createDataFrame(
        [
            (0, "a b c d"),  # grams: "a b c", "b c d"
            (1, "x a b c"),  # grams: "x a b", "a b c"
            (2, "q r"),  # shorter than width: absent
            (3, "a b c a b c"),  # grams: "a b c" x2, "b c a", "c a b"
        ],
        "doc_id bigint, text string",
    )
    rg = {r["gram"]: (r["n_docs"], r["n_occ"]) for r in repeated_grams(df).collect()}
    assert rg == {"a b c": (3, 4)}
    ds = {
        r["key"]: (r["n_grams"], r["n_dup_grams"], r["n_dup_positions"])
        for r in duplicated_span_stats(df).collect()
    }
    assert ds == {0: (2, 1, 1), 1: (2, 1, 1), 3: (4, 1, 2)}


def test_countmin_one_sided_error(spark, monkeypatch):
    """CM property: estimate >= exact for every probe (counters only ever
    absorb collisions); on a tiny vocabulary with no cross-token cell
    collisions the estimates are exact."""
    from openaip_yaixm_to_geojson_spark.operators import terms
    from openaip_yaixm_to_geojson_spark.operators.terms import countmin_heavy_hitters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = countmin_heavy_hitters(docs).collect()
    assert len(rows) == 20
    assert all(r["cm_estimate"] >= r["exact_count"] for r in rows)

    tiny = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "alpha alpha delta")], "doc_id bigint, text string"
    )
    monkeypatch.setattr(terms, "HEAVY_HITTERS_K", 4)
    got = {r["term"]: r for r in countmin_heavy_hitters(tiny).collect()}
    assert got["alpha"]["exact_count"] == 3 and got["alpha"]["cm_estimate"] == 3
    assert got["beta"]["exact_count"] == 2 and got["beta"]["cm_estimate"] == 2


def test_hll_distinct_estimator(spark):
    """HLL with m=1024 registers: ~3.25% standard error in the raw-
    estimator regime (n >> 2.5m). 40k distinct tokens lands there; pin a
    5-sigma band plus the exact integer invariants."""
    from openaip_yaixm_to_geojson_spark.operators.terms import (
        HLL_M,
        HLL_NUMERATOR,
        HLL_REM_BITS,
        hll_distinct,
    )

    n = 40_000
    docs = spark.range(n).select(
        F.lit(0).alias("doc_id"),
        F.concat(F.lit("tok"), F.col("id").cast("string")).alias("text"),
        F.lit("g").alias("source"),
    )
    (row,) = hll_distinct(docs).collect()
    assert row["n_exact"] == n
    assert 0 <= row["n_empty_registers"] <= HLL_M
    # reg_sum bounds: every register in [1, 2^REM_BITS] scaled weight
    assert HLL_M <= row["reg_sum"] <= HLL_M * (1 << HLL_REM_BITS)
    assert row["hll_estimate"] == HLL_NUMERATOR / float(row["reg_sum"])
    assert abs(row["hll_estimate"] - n) / n < 5 * 1.04 / (HLL_M ** 0.5)


def test_hll_rem_zero_rank_is_capped(spark):
    """A token whose 32-bit md5 prefix has its low REM_BITS bits all zero
    (tok4546933: h=2315255808, rem=0) used to rank REM_BITS+1, making the
    register weight shiftleft(1, -1) — Spark wraps the shift mod 64
    (silently adding -2^63 to occ_sum) while DuckDB raises. The rank is
    now capped at REM_BITS: weight 1, reg_sum stays in-bounds, and the
    Spark result equals the DuckDB oracle on the same rows."""
    from openaip_yaixm_to_geojson_spark.operators.terms import (
        HLL_M,
        HLL_REM_BITS,
        hll_distinct,
    )

    docs = spark.createDataFrame(
        [(1, "tok4546933 alpha beta", "g")], "doc_id bigint, text string, source string"
    )
    (row,) = hll_distinct(docs).collect()
    assert row["n_exact"] == 3
    # the rem==0 register contributes weight 2^(REM_BITS - REM_BITS) = 1,
    # never a negative-shift wrap; all weights stay in [1, 2^REM_BITS]
    assert HLL_M <= row["reg_sum"] <= HLL_M * (1 << HLL_REM_BITS)

    import duckdb

    from openaip_yaixm_to_geojson_spark.oracle import sql_hll_distinct

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 1::BIGINT AS doc_id,"
        " 'tok4546933 alpha beta' AS text, 'g' AS source"
    )
    (oracle,) = con.execute(sql_hll_distinct()).fetchall()
    cols = [d[0] for d in con.description]
    orow = dict(zip(cols, oracle))
    assert orow["reg_sum"] == row["reg_sum"]
    assert orow["n_exact"] == row["n_exact"]
    assert orow["hll_estimate"] == row["hll_estimate"]


def test_hll_register_state_is_bounded(spark):
    """The per-group register state is <= m rows whatever the corpus size
    (the scale contract): two disjoint half-corpora merged by max-rank
    reproduce the full-corpus registers exactly."""
    from openaip_yaixm_to_geojson_spark.operators.terms import hll_distinct

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = {r["grp"]: r for r in hll_distinct(docs).collect()}
    halves = [
        {r["grp"]: r for r in hll_distinct(docs.filter(F.col("doc_id") % 2 == i)).collect()}
        for i in (0, 1)
    ]
    for grp, r in full.items():
        # union cardinality <= sum of half cardinalities; registers merge
        # by max so reg_sum of the union is <= either half's reg_sum
        for h in halves:
            if grp in h:
                assert r["reg_sum"] <= h[grp]["reg_sum"]


def test_lang_vocab_overlap_hand_case(spark):
    """Exact hand-computed vocabularies: duplicates within a language
    collapse, jaccard = |A n B| / |A u B|, pairs emitted once with
    lang_a < lang_b."""
    from openaip_yaixm_to_geojson_spark.operators.terms import lang_vocab_overlap

    rows = [
        (1, "a b c a", "en"),   # en vocab {a,b,c}
        (2, "c d", "fr"),        # fr vocab {c,d,e}
        (3, "d e", "fr"),
        (4, "x y", "zz"),        # zz vocab {x,y}: disjoint -> no en-zz row? no, inner join drops it
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {(r["lang_a"], r["lang_b"]): r for r in lang_vocab_overlap(df).collect()}
    assert set(got) == {("en", "fr")}  # disjoint pairs produce no row (inner intersection)
    r = got[("en", "fr")]
    assert (r["vocab_a"], r["vocab_b"], r["n_common"]) == (3, 3, 1)
    assert abs(r["jaccard"] - 1 / 5) < 1e-15


def test_bpe_phrase_merge_overlap_semantics(spark):
    """'a a a a a' with best pair 'a a': left-to-right non-overlap merges
    positions (0,1) and (2,3) only -> 'a_a a_a a'; runs of length 2 merge
    once; non-site docs pass through byte-identical."""
    import hashlib

    from openaip_yaixm_to_geojson_spark.operators.terms import bpe_phrase_merge

    docs = spark.createDataFrame(
        [(1, "a a a a a"), (2, "b a a c"), (3, "x y z")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["n_tokens_before"], r["n_merges"], r["merged_md5"]) for r in bpe_phrase_merge(docs).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (5, 2, md5("a_a a_a a"))
    assert got[2] == (4, 1, md5("b a_a c"))
    assert got[3] == (3, 0, md5("x y z"))
