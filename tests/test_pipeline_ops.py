"""Dedup / similarity / text / multimodal / checkpoint operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 0
        (3, "der schnelle braune fuchs springt und das ist nicht mit ein der die und"),
        (4, "completely different content about spark distributed query engines"),
        (5, "le chat est dans la maison et les oiseaux sont dans le jardin des plantes"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark, docs):
    from openaip_yaixm_to_geojson_spark.operators.dedup import exact_dedup

    out = {r["representative"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert sum(out.values()) == 6 and len(out) == 5


def test_minhash_lsh_finds_near_dup(spark, docs, monkeypatch):
    from openaip_yaixm_to_geojson_spark.operators import dedup
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    # banding matched to the threshold: 16 bands x 1 row has high recall at
    # J >= 0.4 (the default 8x2 S-curve targets J >= ~0.7)
    monkeypatch.setattr(dedup, "MINHASH_JACCARD", 0.4)
    pairs = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, bands=16).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares most shingles
    assert all(a < b for a, b in pairs)
    # exact verification path agrees on the exact-dup pair
    monkeypatch.setattr(dedup, "NGRAM_JACCARD", 0.99)
    exact = {(r["key_a"], r["key_b"]) for r in ngram_jaccard_pairs(docs).collect()}
    assert (0, 1) in exact


def test_minhash_size_prefilter_keeps_pair_at_threshold(spark, monkeypatch):
    """A's 55 shingles are a subset of B's 100, so J = 55/100 = 0.55 exactly
    and the verify keeps the pair at t = 0.55. The size-ratio prefilter must
    not drop it: in floats 0.55 * 100 = 55.00000000000001 > 55."""
    from openaip_yaixm_to_geojson_spark.operators import dedup
    from openaip_yaixm_to_geojson_spark.operators.dedup import minhash_lsh_pairs

    words = [f"w{i}" for i in range(102)]
    docs = spark.createDataFrame(
        [(0, " ".join(words[:57])), (1, " ".join(words))], "doc_id bigint, text string"
    )
    # 16 bands x 1 row: each band matches with probability J, so the pair
    # is a candidate unless all 16 single-hash bands miss
    monkeypatch.setattr(dedup, "MINHASH_JACCARD", 0.55)
    pairs = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, bands=16).collect()
    }
    assert pairs == {(0, 1): 0.55}


def test_simhash_neardup(spark, docs):
    from openaip_yaixm_to_geojson_spark.operators.dedup import simhash_neardup_pairs

    pairs = {(r["key_a"], r["key_b"]): r["hamming"] for r in simhash_neardup_pairs(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs  # one changed word flips few bits


def test_cosine_topk_matches_numpy(spark, monkeypatch):
    from openaip_yaixm_to_geojson_spark.operators import similarity
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        cosine_topk,
        queries_from_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    monkeypatch.setattr(similarity, "ANN_QUERIES", 3)
    queries = queries_from_embeddings(emb)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(emb, queries).collect()
    }
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    ids = pdf["vec_id"].to_numpy()
    for qid in range(3):
        q = mat[ids == qid][0]
        dots = mat @ q
        order = sorted(
            [(d, i) for d, i in zip(dots, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )
        for rank in range(1, 4):
            assert got[(qid, rank)] == order[rank - 1][1]


def test_lsh_ann_recall(spark):
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
        queries_from_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = queries_from_embeddings(emb)
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, queries).collect()}
    # this corpus has weak neighbour structure (mean top-1 cosine ~0.37), so
    # hyperplane agreement is ~0.62/plane — 2 planes + multiprobe is the
    # sweet spot here; recall is deterministic (md5-derived hyperplanes)
    approx = {(r["query_id"], r["vec_id"]) for r in lsh_ann_topk(emb, queries).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"ANN recall too low: {recall}"


def test_ann_udf_kernels_match_expressions(spark):
    """The Arrow-batched bucket/assign/probe kernels (high-dim path past
    EXPR_UNROLL_MAX_TERMS) are BIT-IDENTICAL to the unrolled-expression
    fold: same left-fold dots (cumsum), same tie rules."""
    from openaip_yaixm_to_geojson_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = sim.hyperplanes(64, 8)
    cents = sim.ivf_centroids(64, 16)
    got = emb.select(
        "vec_id",
        sim.lsh_bucket_col(F.col("embedding"), planes).alias("b_expr"),
        sim.lsh_bucket_udf_col(F.col("embedding"), planes).alias("b_udf"),
        sim.ivf_assign_col(F.col("embedding"), cents).alias("c_expr"),
        sim.ivf_assign_udf_col(F.col("embedding"), cents).alias("c_udf"),
        sim._ivf_probe_cids_expr(F.col("embedding"), cents, 4).alias("p_expr"),
        sim._ivf_probe_cids_udf(F.col("embedding"), cents, 4).alias("p_udf"),
    ).collect()
    assert len(got) > 0
    for r in got:
        assert r["b_expr"] == r["b_udf"], r["vec_id"]
        assert r["c_expr"] == r["c_udf"], r["vec_id"]
        assert list(r["p_expr"]) == list(r["p_udf"]), r["vec_id"]


def test_ann_high_dim_uses_udf_path(spark, monkeypatch):
    """dim 1536 (planes x dim and centroids x dim both past the unroll
    budget) runs end to end through the Arrow kernels: valid top-k shape,
    deterministic across two runs, and a planted near-duplicate pair is
    found by the LSH near-dup path."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators import similarity
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        EXPR_UNROLL_MAX_TERMS,
        embedding_neardup_pairs,
        ivf_ann_topk,
        lsh_ann_topk,
        queries_from_embeddings,
    )

    dim, n = 1536, 60
    assert 8 * dim > EXPR_UNROLL_MAX_TERMS and 16 * dim > EXPR_UNROLL_MAX_TERMS
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[1] = vecs[0] + rng.normal(scale=1e-3, size=dim).astype(np.float32)  # planted near-dup
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id int, embedding array<float>",
    )
    monkeypatch.setattr(similarity, "ANN_QUERIES", 3)
    monkeypatch.setattr(similarity, "IVF_PROBES", 8)
    monkeypatch.setattr(similarity, "ANN_LSH_PLANES", 8)
    queries = queries_from_embeddings(emb)
    lsh = lsh_ann_topk(emb, queries, dim=dim).collect()
    ivf = ivf_ann_topk(emb, queries, dim=dim).collect()
    for rows in (lsh, ivf):
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert per_q and all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    again = lsh_ann_topk(emb, queries, dim=dim).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, lsh))
    # query 0's top hit must be the planted near-duplicate vector 1
    top = {r["rank"]: r["vec_id"] for r in lsh if r["query_id"] == 0}
    assert top[1] == 1
    monkeypatch.setattr(similarity, "NEARDUP_COSINE", 0.99)
    monkeypatch.setattr(similarity, "NEARDUP_LSH_PLANES", 8)
    pairs = {(r["key_a"], r["key_b"]) for r in embedding_neardup_pairs(emb, dim=dim).collect()}
    assert (0, 1) in pairs


def test_html_extraction_semantics(spark):
    """script/style bodies vanish, tags become spaces, entities decode in
    the order that keeps &amp;lt; -> &lt; (no double decode), whitespace
    collapses, paragraph rows keep document order."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.operators.web import (
        extract_paragraphs,
        extract_text_col,
        paragraph_dedup,
    )

    html = (
        "<html><head><title>T</title><script>alert('x')</script>"
        "<style>b{}</style></head><body><p>first &amp; A&#39;s &amp;lt;tag&amp;gt;</p>"
        "<p>second\t\n line</p><p>first &amp; A&#39;s &amp;lt;tag&amp;gt;</p></body></html>"
    )
    pages = spark.createDataFrame([("u1", html.encode())], "url string, html binary")
    out = pages.select(extract_text_col(F.col("html")).alias("t")).collect()[0]["t"]
    assert "alert" not in out and "b{}" not in out
    assert out == "T first & A's &lt;tag&gt; second line first & A's &lt;tag&gt;"
    paras = extract_paragraphs(pages).orderBy("para_idx").collect()
    assert [p["para_idx"] for p in paras] == [0, 1, 2]
    assert paras[0]["paragraph"] == paras[2]["paragraph"] == "first & A's &lt;tag&gt;"
    assert paras[1]["paragraph"] == "second line"
    dedup = {r["para_hash"]: r for r in paragraph_dedup(extract_paragraphs(pages)).collect()}
    assert sorted(r["n_copies"] for r in dedup.values()) == [1, 2]


def test_langid_and_quality(spark, docs):
    from openaip_yaixm_to_geojson_spark.operators.text import analyze_documents

    out = {r["doc_id"]: r for r in analyze_documents(docs).collect()}
    assert out[0]["lang_pred"] == "en"
    assert out[3]["lang_pred"] == "de"
    assert out[5]["lang_pred"] == "fr"
    assert out[0]["fingerprint"] == out[1]["fingerprint"]
    assert out[0]["quality"]["quality_score"] == 1.0
    assert out[0]["n_tokens_ws"] == 13


def test_multimodal_plumbing(spark):
    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        extract_features,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic: same id -> same feature on recompute
    again = extract_features(synth_media(spark, 30)).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in again
    }


def test_checkpoint_resume(spark, tmp_path):
    from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

    base = str(tmp_path / "ckpt")
    runner = StageRunner(spark, base)
    calls = {"a": 0, "b": 0}

    def build_a():
        calls["a"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    def build_b():
        calls["b"] += 1
        return runner.run("stage_a", build_a).where(F.col("v") % 4 == 0)

    out1 = runner.run("stage_b", build_b)
    assert out1.count() == 50
    hash_a = runner.content_hash("stage_a")
    hash_b = runner.content_hash("stage_b")
    assert calls == {"a": 1, "b": 1}
    m = runner.manifest("stage_a")
    assert m["rows"] == 100 and m["n_files"] >= 1 and sum(m["files"].values()) == 100

    # kill downstream stage, resume: upstream is NOT recomputed, hashes stable
    runner.invalidate("stage_b")
    out2 = runner.run("stage_b", build_b)
    assert out2.count() == 50
    assert calls == {"a": 1, "b": 2}
    assert runner.content_hash("stage_a") == hash_a
    assert runner.content_hash("stage_b") == hash_b

    # full resume: nothing recomputes, and the only Spark job is the
    # schema read of spark.read.parquet (row counts come from footers)
    sc = spark.sparkContext
    sc.setJobGroup("full_resume", "full resume")
    try:
        out3 = runner.run("stage_b", build_b)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("full_resume")) <= 1
    assert out3.count() == 50 and calls == {"a": 1, "b": 2}


def test_simhash_cross_half_recall(spark):
    """Round-1 ADVICE: a pair differing by one bit in EACH 8-bit half was
    silently dropped by the two-half banding. This pair (precomputed:
    simhashes 0x4ff0 vs 0x0ff2, XOR 0x4002 = bits 1 and 14) spans both
    halves and must be found for any max_hamming >= 2."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        simhash16,
        simhash_neardup_pairs,
    )

    rows = [
        (0, "the quick brown fox jumps over lazy dog near river"),
        (1, "aa6 quick brown fox jumps bb6 lazy dog near river"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sims = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash16(F.col("text")).alias("s")).collect()}
    xor = sims[0] ^ sims[1]
    assert bin(xor).count("1") == 2 and (xor & 0xFF) and (xor >> 8), "fixture drifted"
    pairs = {(r["key_a"], r["key_b"]): r["hamming"] for r in simhash_neardup_pairs(df, max_hamming=2).collect()}
    assert pairs == {(0, 1): 2}


def test_simhash_neardup_matches_bruteforce(spark):
    """Operator output == exhaustive all-pairs Hamming scan on real data."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        simhash16,
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sims = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash16(F.col("text")).alias("s")).collect()}
    for mh in (1, 2, 3):
        expected = {
            (a, b): bin(sims[a] ^ sims[b]).count("1")
            for a in sims
            for b in sims
            if a < b and bin(sims[a] ^ sims[b]).count("1") <= mh
        }
        got = {
            (r["key_a"], r["key_b"]): r["hamming"]
            for r in simhash_neardup_pairs(docs, max_hamming=mh).collect()
        }
        assert got == expected


def test_ngram_jaccard_bucket_straddle(spark, monkeypatch):
    """r3 VERDICT: the single floor(n/8) block key missed similar pairs
    whose shingle counts straddle a bucket edge (15 vs 17 -> blocks 1 vs
    2). Dual offset keys floor(n/8) + floor((n+4)/8) close the +-4 window;
    pairs sharing BOTH keys must still come out exactly once."""
    from openaip_yaixm_to_geojson_spark.operators import dedup
    from openaip_yaixm_to_geojson_spark.operators.dedup import ngram_jaccard_pairs

    words = [f"w{i}" for i in range(1, 20)]
    straddle_a = " ".join(words[:17])  # 15 shingles, old block 1
    straddle_b = " ".join(words)  # 17 shingles, old block 2 — old key missed the pair
    both_c = " ".join(f"c{i}" for i in range(1, 15))  # 12 shingles -> keys {1, 2}
    d_words = [f"c{i}" for i in range(1, 15)]
    d_words[7] = "zz"  # 3 shingles differ: J = 9/15 = 0.6
    both_d = " ".join(d_words)  # 12 shingles -> keys {1, 2}: pair matches in BOTH blocks
    df = spark.createDataFrame(
        [(0, straddle_a), (1, straddle_b), (2, both_c), (3, both_d)],
        "doc_id bigint, text string",
    )
    monkeypatch.setattr(dedup, "NGRAM_JACCARD", 0.5)
    got = {(r["key_a"], r["key_b"]): r["jaccard"] for r in ngram_jaccard_pairs(df).collect()}
    rows = ngram_jaccard_pairs(df).count()
    assert set(got) == {(0, 1), (2, 3)} and rows == 2  # straddler found, dual-key pair deduped
    assert abs(got[(0, 1)] - 15 / 17) < 1e-12 and abs(got[(2, 3)] - 9 / 15) < 1e-12


def test_edit_distance_pairs_blocking_contract(spark):
    """Blocked Levenshtein: a pair is found iff it shares an edit-free
    16-char prefix OR suffix margin (both-margins-edited pairs escape by
    documented contract); short docs fall back to dual-offset length
    buckets; both-keys matches emit exactly once; the length lower bound
    and the threshold-ed DP never report distance > max_distance."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import edit_distance_pairs

    base = "abcdefghijklmnop"  # exactly 16 chars
    rows = [
        (0, base + " middle text " + base),          # prefix+suffix anchor
        (1, base + " middIe texX " + base),          # 2 mid edits: BOTH margins intact -> 1 pair
        (2, "XbcdefghijklmnoZ" + " middle text " + "AbcdefghijklmnoZ"),  # both margins edited -> escapes vs 0
        (3, base + " trailing differs entirely here"),  # prefix-only match vs 0, dist > 20 -> pruned by threshold
        (4, "short doc"),                             # n=9 -> length buckets {1}
        (5, "short dXc"),                             # n=9 -> shares bucket, dist 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["key_a"], r["key_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, max_distance=20).collect()
    }
    assert got == {(0, 1): 2, (4, 5): 1}
    # tightening the threshold drops the (0,1) pair via the DP bailout
    got1 = {
        (r["key_a"], r["key_b"]): r["edit_distance"]
        for r in edit_distance_pairs(df, max_distance=1).collect()
    }
    assert got1 == {(4, 5): 1}


def test_simhash64_kernel_equals_expression(spark):
    """The Arrow kernel (scale path, one md5 per token) must be bit-equal
    to the 64-fold expression twin — including the NULL-text -> 0 contract
    (CASE semantics) and whitespace/empty-token edge cases."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import simhash64, simhash64_expr

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, " "),
        (3, "a  b\t\tc\nd"),
        (4, "  leading and trailing  "),
        (5, "\ttab lead"),
        (6, "unicode éü tokens 中文"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = df.select(
        "doc_id",
        simhash64(F.col("text")).alias("k"),
        simhash64_expr(F.col("text")).alias("e"),
    ).collect()
    assert all(r["k"] == r["e"] for r in out), [(r["doc_id"], r["k"], r["e"]) for r in out]
    # sketches are genuinely 64-bit: at least one value outside int32 range,
    # and the two's-complement sign bit exercised (some negative sketch)
    vals = [r["k"] for r in out]
    assert any(v < 0 for v in vals) and any(abs(v) > (1 << 32) for v in vals)


def test_simhash64_neardup_matches_bruteforce(spark):
    """64-bit banded pairs == exhaustive all-pairs Hamming scan on real
    data: pigeonhole banding (max_hamming+1 contiguous segments) is
    recall-lossless for every budget up to max_hamming."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sims = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash64(F.col("text")).alias("s")).collect()
    }

    def ham(a, b):
        return bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")

    for mh in (0, 3):
        expected = {
            (a, b): ham(a, b) for a in sims for b in sims if a < b and ham(a, b) <= mh
        }
        got = {
            (r["key_a"], r["key_b"]): r["hamming"]
            for r in simhash_neardup_pairs(docs, max_hamming=mh, n_bits=64).collect()
        }
        assert got == expected


def test_checkpoint_corrupt_stage_rebuilds(spark, tmp_path):
    """A stage directory with an intact manifest but a damaged part file
    must rebuild on resume (round-1 ADVICE: it resumed silently with wrong
    data): a deleted file (file set changes), a file truncated to half its
    bytes (unreadable footer, same file set) and a valid parquet file with
    fewer rows under the same name (per-file row count differs)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

    runner = StageRunner(spark, str(tmp_path / "ckpt"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).repartition(4).withColumn("v", F.col("id") * 3)

    def truncate(path):
        with open(path, "r+b") as fh:
            fh.truncate(os.path.getsize(path) // 2)

    def fewer_rows(path):
        table = pq.read_table(path)
        pq.write_table(table.slice(0, table.num_rows - 1), path)

    assert runner.run("s", build).count() == 100 and calls["n"] == 1
    # clean resume: no rebuild
    assert runner.run("s", build).count() == 100 and calls["n"] == 1
    for n, corrupt in enumerate((os.remove, truncate, fewer_rows), start=2):
        victim = sorted(glob.glob(str(tmp_path / "ckpt" / "s" / "*.parquet")))[0]
        corrupt(victim)
        assert runner.manifest("s")["status"] == "complete"
        assert runner.run("s", build).count() == 100 and calls["n"] == n, corrupt


def test_checkpoint_empty_first_part_resumes(spark, tmp_path):
    """Spark writes an empty part-00000 when partition 0 has no rows; the
    manifest must list it (0 rows) so the resume check, which lists every
    on-disk file, accepts the complete stage instead of rebuilding it."""
    from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

    runner = StageRunner(spark, str(tmp_path / "ckpt"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(0, 10, numPartitions=2).where("id >= 5")

    assert runner.run("s", build).count() == 5 and calls["n"] == 1
    assert runner.run("s", build).count() == 5 and calls["n"] == 1
    m = runner.manifest("s")
    assert m["n_files"] == 2 and sorted(m["files"].values()) == [0, 5] and m["rows"] == 5


@pytest.mark.parametrize("n_rows", [3, 80])  # literal path and pandas path (> 64 rows)
def test_literal_table_rejects_null_in_non_nullable_field(spark, n_rows):
    from pyspark.sql import types as T

    from openaip_yaixm_to_geojson_spark.plans.localtable import literal_table

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType(), True)]
    )
    rows = [(i, None) for i in range(n_rows)]  # None in a nullable field is fine
    assert literal_table(spark, rows, schema).count() == n_rows
    with pytest.raises(ValueError, match="k"):
        literal_table(spark, rows[:-1] + [(None, "x")], schema)
    with pytest.raises(ValueError, match="k"):
        literal_table(spark, [{"k": None, "v": "x"}] + [{"k": i, "v": None} for i in range(n_rows)], schema)


@pytest.mark.parametrize("n_rows", [3, 80])  # at and past the literal-path size
def test_literal_table_nested_rows_build_in_the_jvm(spark, n_rows):
    """Rows carrying nested array<struct> values (the spatial cover's band
    edges) come back exactly, and re-evaluating them starts no Python task
    at either size; with Arrow off (Spark's default session) they are
    still exact."""
    from pyspark.sql import types as T

    from openaip_yaixm_to_geojson_spark.operators.spatial import EDGES_TYPE
    from openaip_yaixm_to_geojson_spark.plans.localtable import literal_table

    schema = T.StructType([T.StructField("k", T.LongType(), False), T.StructField("edges", EDGES_TYPE, False)])
    rows = [
        (i, [{"x1": i + 0.1, "y1": -1e-300, "x2": 5e-324, "y2": float(j)} for j in range(i % 4)])
        for i in range(n_rows)
    ]

    def got(df):
        return sorted((r["k"], [e.asDict() for e in r["edges"]]) for r in df.collect())

    df = literal_table(spark, rows, schema)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert got(df) == rows
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert got(literal_table(spark, rows, schema)) == rows
    finally:
        spark.conf.set(key, prev)


def test_ivf_ann_recall(spark):
    """IVF probing recovers a solid fraction of the exact top-k, and every
    returned neighbour's dot matches the exact score."""
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        queries_from_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = queries_from_embeddings(emb)
    exact = {(r["query_id"], r["vec_id"]): r["dot"] for r in cosine_topk(emb, q).collect()}
    approx = {(r["query_id"], r["vec_id"]): r["dot"] for r in ivf_ann_topk(emb, q, dim=64).collect()}
    hits = set(exact) & set(approx)
    assert len(hits) / len(exact) >= 0.4  # deterministic on fixed data
    for key in hits:
        assert exact[key] == approx[key]


def test_rolling_fingerprint_properties(spark):
    """Rolling hash: stable per text, sensitive to word order and content."""
    from openaip_yaixm_to_geojson_spark.operators.text import rolling_fingerprint_col

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (2, "delta gamma beta alpha"),
        (3, "alpha beta gamma epsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", rolling_fingerprint_col(F.col("text")).alias("fp")).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2] and fp[0] != fp[3]
    assert all(0 <= v < 2_147_483_647 for v in fp.values())


def test_tile_zoom_rollup_matches_direct(spark, monkeypatch):
    """Parent-id arithmetic rollup == recomputing tiles at the coarser res
    directly from the fact table (floor-div composition law)."""
    from openaip_yaixm_to_geojson_spark.operators import tiles
    from openaip_yaixm_to_geojson_spark.operators.tiles import (
        tile_doc_counts,
        tile_zoom_rollup,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    monkeypatch.setattr(tiles, "DEFAULT_TILE_RES", 8)
    fine = tile_doc_counts(pages).drop("n_langs")
    via_parents = {
        (r["tile_id"]): (r["doc_count"], r["total_chars"])
        for r in tile_zoom_rollup(fine).collect()
    }
    monkeypatch.setattr(tiles, "DEFAULT_TILE_RES", 6)
    direct = {
        (r["tile_id"]): (r["doc_count"], r["total_chars"])
        for r in tile_doc_counts(pages).drop("n_langs").collect()
    }
    assert via_parents == direct and len(direct) > 0


def test_duplicate_clusters(spark):
    """Label propagation finds components on a chain, a triangle, and
    leaves singletons alone — and converges past diameter > 1."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, singleton 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)], "key_a bigint, key_b bigint"
    )
    docs = spark.createDataFrame([(k,) for k in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id bigint")
    got = {r["key"]: r["cluster_id"] for r in duplicate_clusters(pairs, documents=docs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_duplicate_clusters_nonconvergence_raises(spark):
    """A chain longer than max_iters must RAISE, not return silently-partial
    labels (min-label propagation needs ~diameter rounds); the same graph
    converges fine with a sufficient budget."""
    import pytest

    from openaip_yaixm_to_geojson_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "key_a bigint, key_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iters=2).collect()
    got = {r["key"]: r["cluster_id"] for r in duplicate_clusters(chain, max_iters=12).collect()}
    assert got == {k: 1 for k in range(1, 10)}


def test_deterministic_sample(spark):
    """Same keep-set on re-run and across fractions (bucket monotonicity):
    the 10% sample is a subset of the 25% sample, sizes are in range."""
    from openaip_yaixm_to_geojson_spark.operators.text import deterministic_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    s10 = {r["doc_id"] for r in deterministic_sample(docs, 0.10).select("doc_id").collect()}
    s25 = {r["doc_id"] for r in deterministic_sample(docs, 0.25).select("doc_id").collect()}
    again = {r["doc_id"] for r in deterministic_sample(docs, 0.25).select("doc_id").collect()}
    assert s25 == again
    assert s10 <= s25
    assert 0 < len(s10) < len(s25) < n


def test_events_operators(spark):
    """Events surface: sessions partition the events exactly, windows sum
    to the table total, JSON k-range is sane."""
    from openaip_yaixm_to_geojson_spark.operators.events import (
        event_type_windows,
        events_from_dir,
        props_k_stats,
        user_sessions,
    )

    ev = events_from_dir(spark, "/root/testdata/sf0.001")
    n = ev.count()
    sessions = user_sessions(ev).collect()
    assert sum(r["n_events"] for r in sessions) == n
    assert all(r["session_start"] <= r["session_end"] for r in sessions)
    windows = event_type_windows(ev).collect()
    assert sum(r["n_events"] for r in windows) == n
    assert all(r["window_start"] % 3600 == 0 for r in windows)
    stats = {r["event_type"]: r for r in props_k_stats(ev).collect()}
    assert sum(r["n_events"] for r in stats.values()) == n
    assert all(r["k_min"] <= r["k_max"] for r in stats.values())


def test_url_canonicalization_rules(spark):
    from openaip_yaixm_to_geojson_spark.operators.web import url_canonicalize

    cases = {
        "http://www.EXAMPLE.org:80/A/B/?utm_source=x&page=2&gclid=z#frag":
            "https://example.org/A/B?page=2",
        "https://Example.org:443/path": "https://example.org/path",
        "https://example.org/path/": "https://example.org/path",
        "https://example.org/?utm_campaign=only": "https://example.org",
        "https://example.org/p?a=1&b=2": "https://example.org/p?a=1&b=2",
        # path case preserved; non-default port preserved
        "http://example.org:8080/CaseSensitive": "https://example.org:8080/CaseSensitive",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["canonical_url"] for r in url_canonicalize(df).collect()}
    assert got == cases


def test_host_cap_deterministic_across_parallelism(spark):
    from openaip_yaixm_to_geojson_spark.operators.web import host_cap

    rows = [(f"https://h{i % 4}.example/p{i}",) for i in range(40)]
    one = spark.createDataFrame(rows, "url string").repartition(1)
    many = spark.createDataFrame(list(reversed(rows)), "url string").repartition(16)
    kept1 = {(r["host"], r["url"], r["host_rank"]) for r in host_cap(one).collect()}
    kept2 = {(r["host"], r["url"], r["host_rank"]) for r in host_cap(many).collect()}
    assert kept1 == kept2 and len(kept1) == 12  # 4 hosts x cap 3


def test_ngram_repetition_counts(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import ngram_repetition

    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, "all words here are distinct"), (2, "single")],
        "doc_id bigint, text string",
    )
    out = {r["key"]: r for r in ngram_repetition(df).collect()}
    assert out[0]["n_grams"] == 4 and out[0]["n_distinct"] == 2
    assert out[0]["dup_fraction"] == 0.5 and out[0]["top_fraction"] == 0.5
    assert out[1]["dup_fraction"] == 0.0 and out[1]["top_count"] == 1
    assert 2 not in out  # fewer than n words -> no grams -> drops out


def test_contamination_planted_overlap(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import contamination

    shared = "one two three four five six seven eight"
    corpus = spark.createDataFrame(
        [
            (0, f"prefix words then {shared} and a tail"),
            (1, "totally unrelated content with no benchmark overlap at all here"),
            (2, shared),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, f"intro {shared} outro")], "doc_id bigint, text string")
    got = {r["key"]: r["n_shared_grams"] for r in contamination(corpus, bench).collect()}
    assert set(got) == {0, 2} and got[2] == 1 and got[0] >= 1


def test_bloom_contamination_contains_exact_answer(spark):
    """The Bloom path must never miss a truly contaminated document: for
    every key the exact join flags, the bloom flags it with at least as
    many positive grams (false positives only ever ADD). Checked on the
    sf0.001 corpus against its % 101 pseudo-benchmark, plus a planted case."""
    from openaip_yaixm_to_geojson_spark.operators.text import bloom_contamination, contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 101 == 0)
    exact = {r["key"]: r["n_shared_grams"] for r in contamination(docs, bench).collect()}
    bloom = {r["key"]: r for r in bloom_contamination(docs, bench).collect()}
    assert exact, "fixture regression: the %101 bench set shares no grams"
    for key, n_shared in exact.items():
        assert key in bloom and bloom[key]["n_bloom_hits"] >= n_shared

    shared = "one two three four five six seven eight"
    corpus = spark.createDataFrame(
        [(0, f"lead in {shared} tail"), (1, "no overlap with anything in the benchmark here")],
        "doc_id bigint, text string",
    )
    planted_bench = spark.createDataFrame([(9, shared)], "doc_id bigint, text string")
    got = {r["key"]: r for r in bloom_contamination(corpus, planted_bench).collect()}
    assert 0 in got and got[0]["n_bloom_hits"] >= 1


def test_url_canonicalization_idempotent_and_invariant(spark):
    """Fixed-point + invariants over a seeded messy-URL grammar: applying
    canonicalization to its own output changes nothing, and every output
    satisfies the documented canonical form."""
    import random
    import re

    from openaip_yaixm_to_geojson_spark.operators.web import url_canonicalize

    rng = random.Random(20260816)
    urls = []
    for i in range(200):
        scheme = rng.choice(["http://", "https://"])
        www = rng.choice(["", "www.", "WWW."])
        host = rng.choice(["Example.org", "sub.DOMAIN.example", "x-y.example"])
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = rng.choice(["", "/", "/A/b", f"/p{i}/", "/p%20q"])
        params = rng.sample(
            ["utm_source=a", "utm_medium=b", "gclid=zz", "fbclid=ff", "page=2", "q=Spark", "a="],
            k=rng.randint(0, 4),
        )
        query = "?" + "&".join(params) if params else ""
        frag = rng.choice(["", "#top", "#s/2?x=1"])
        urls.append(scheme + www + host + port + path + query + frag)

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = url_canonicalize(df).select(F.col("canonical_url").alias("url")).collect()
    canon1 = [r["url"] for r in once]
    twice = url_canonicalize(
        spark.createDataFrame([(u,) for u in canon1], "url string")
    ).collect()
    assert [r["canonical_url"] for r in twice] == [r["url"] for r in twice]  # fixed point

    for u in canon1:
        assert u.startswith("https://") and "#" not in u
        authority = re.match(r"https://([^/?]*)", u).group(1)
        assert authority == authority.lower() and not authority.startswith("www.")
        assert not authority.endswith(":80") and not authority.endswith(":443")
        base = u.split("?", 1)[0]
        assert not base.endswith("/")
        if "?" in u:
            qs = u.split("?", 1)[1]
            assert qs != ""
            for p in qs.split("&"):
                assert not p.startswith(("utm_", "fbclid=", "gclid="))


def test_asof_join_matches_pandas_merge_asof(spark):
    """The union+carry-forward formulation must reproduce pandas
    merge_asof (backward) exactly, including the no-match and equal-ts
    cases, in both allow_equal modes."""
    import pandas as pd

    from openaip_yaixm_to_geojson_spark.operators.events import asof_join

    rng_rows_l = [(i, i % 7, (i * 37) % 100) for i in range(80)]
    rng_rows_r = [(1000 + i, i % 7, (i * 23) % 100, float(i)) for i in range(60)]
    # duplicate right (key, ts) pairs: the tie must resolve to the greatest
    # lead value (event_id) without a dedicated dedup pass
    rng_rows_r += [(2000, 3, 50, 777.0), (2001, 3, 50, 888.0), (1999, 3, 50, 666.0)]
    left = spark.createDataFrame(rng_rows_l, "event_id bigint, user_id bigint, ts bigint")
    right = spark.createDataFrame(
        rng_rows_r, "event_id bigint, user_id bigint, ts bigint, value double"
    ).select("user_id", "ts", "event_id", "value")

    lp = pd.DataFrame(rng_rows_l, columns=["event_id", "user_id", "ts"]).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(rng_rows_r, columns=["r_event_id", "user_id", "ts", "value"])
        # mirror the operator's tie rule: greatest lead value per (key, ts)
        .sort_values(["user_id", "ts", "r_event_id"])
        .groupby(["user_id", "ts"], as_index=False)
        .last()
        .sort_values("ts", kind="stable")
    )
    for allow_equal in (True, False):
        got = {
            r["event_id"]: (r["matched_event_id"], r["matched_value"])
            for r in asof_join(left, right, allow_equal=allow_equal).collect()
        }
        exp_df = pd.merge_asof(
            lp, rp, on="ts", by="user_id", allow_exact_matches=allow_equal
        )
        for _, row in exp_df.iterrows():
            exp = (
                (None, None)
                if pd.isna(row["r_event_id"])
                else (int(row["r_event_id"]), float(row["value"]))
            )
            assert got[int(row["event_id"])] == exp, (allow_equal, row["event_id"])
        assert len(got) == len(lp)


def test_interval_join_boundaries_and_overlap(spark):
    from openaip_yaixm_to_geojson_spark.operators.events import interval_join

    points = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 500), (3, "a", 501), (4, "b", 100), (5, "a", 7300)],
        "event_id bigint, key string, t bigint",
    )
    intervals = spark.createDataFrame(
        # overlapping intervals for key a; boundary hits at both ends;
        # key b has no interval covering t=100
        [("a", 100, 500), ("a", 450, 7300), ("b", 200, 300)],
        "key string, session_start bigint, session_end bigint",
    )
    got = {
        (r["event_id"], r["session_start"])
        for r in interval_join(points, intervals, bucket_seconds=600).collect()
    }
    assert got == {
        (1, 100),            # start boundary inclusive
        (2, 100), (2, 450),  # overlap region -> both intervals
        (3, 450),
        (5, 450),            # end boundary inclusive, interval spans many buckets
    }


def test_sample_frames_indices_and_content(spark):
    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 30)
    got = sample_frames(media).collect()
    videos = {r["media_id"]: bytes(r["payload"]) for r in media.where(F.col("kind") == "video").collect()}
    assert {r["media_id"] for r in got} == set(videos)
    by_media = {}
    for r in got:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
        payload = videos[r["media_id"]]
        off = (r["frame_idx"] * 7) % (len(payload) - 8)
        assert r["frame"] == payload[off : off + 8].decode("ascii")
    assert all(sorted(v) == [0, 4, 8, 12] for v in by_media.values())


def test_ngram_repetition_local_matches_relational(spark, docs):
    """The shuffle-free sorted-fold variant must equal the relational
    explode+groupBy on every field, and its plan must contain no Exchange
    and exactly one fold."""
    from openaip_yaixm_to_geojson_spark.operators.text import (
        ngram_repetition,
        ngram_repetition_local,
    )

    extra = spark.createDataFrame(
        [(10, "a b a b a"), (11, "x"), (12, "  "), (13, "z z z z z z")],
        "doc_id bigint, text string",
    )
    data = docs.unionByName(extra)
    rel = {r["key"]: tuple(r)[1:] for r in ngram_repetition(data).collect()}
    loc = {r["key"]: tuple(r)[1:] for r in ngram_repetition_local(data).collect()}
    assert rel == loc and 11 not in loc and 12 not in loc

    # plan over a single (non-union) input: zero shuffles, the sort+fold
    # appears exactly once (a fold-referencing filter would re-inline it)
    plan = ngram_repetition_local(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("aggregate(") == 1


def test_pagerank_int_matches_numpy_recurrence(spark):
    """The distributed integer PageRank must equal a direct NumPy
    evaluation of the same recurrence, and in-link-heavy nodes must
    outrank in-link-free ones (which hold the damping floor)."""
    from openaip_yaixm_to_geojson_spark.operators.graph import (
        PAGERANK_ITERS,
        RANK_SCALE,
        pagerank_int,
        synth_link_graph,
    )

    n, iters = 40, PAGERANK_ITERS
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    edges_df = synth_link_graph(docs)
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    got = {r["doc_id"]: r["rank_int"] for r in pagerank_int(docs, edges_df).collect()}

    out_deg = {}
    for s, _d in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {i: RANK_SCALE for i in range(n)}
    for _ in range(iters):
        incoming = {i: 0 for i in range(n)}
        for s, d in edges:
            incoming[d] += rank[s] // out_deg[s]
        rank = {i: 15 * RANK_SCALE // 100 + (85 * incoming[i]) // 100 for i in range(n)}
    assert got == rank
    # hub nodes (src % 10 targets) must outrank the damping-floor nodes
    assert max(got.values()) > min(got.values())
    assert max(got, key=got.get) < 10


def test_lsh_recall_monitor_counts_and_forced_miss(spark):
    """The recall monitor reports exact counts: with 8 bands the moderate
    pair is found (recall 1); with a single 16-row band the same pair needs
    all 16 minhashes equal and is deterministically missed (md5-derived
    signatures, no RNG) — the exact situation the monitor exists to
    surface."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import lsh_recall_monitor

    words = [f"w{i}" for i in range(40)]
    near_a = " ".join(words)
    near_b = " ".join(words[:30] + [f"z{i}" for i in range(10)])
    rows = [(0, near_a), (4, near_b), (8, "c1 c2 c3 c4 c5"), (12, "solo text here completely different")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    found = lsh_recall_monitor(df, sample_mod=1, bands=8).collect()[0]
    assert (found["n_sampled"], found["n_true_pairs"], found["n_found_pairs"], found["n_missed_pairs"]) == (4, 1, 1, 0)
    missed = lsh_recall_monitor(df, sample_mod=1, bands=1).collect()[0]
    assert (missed["n_true_pairs"], missed["n_found_pairs"], missed["n_missed_pairs"]) == (1, 0, 1)


def test_events_retention_hand_case(spark):
    """Hand-computed retention triangle: multiple same-day events collapse
    to one user-day; offsets measured from each user's first day."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_retention

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 11:00:00"),  # same day: one user-day
        (1, "2024-01-03 09:00:00"),
        (2, "2024-01-01 23:59:59"),
        (3, "2024-01-02 00:00:00"),
        (3, "2024-01-05 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    got = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_users"]
        for r in events_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,  # users 1 and 2
        ("2024-01-01", 2): 1,  # user 1 back on day 3
        ("2024-01-02", 0): 1,  # user 3
        ("2024-01-02", 3): 1,  # user 3 back on day 5
    }


def test_events_resample_gap_fill(spark):
    """Hand case: a 3-hour gap inside a type's range densifies to
    zero-filled buckets; the spine is PER TYPE (type b's single event
    yields one bucket, not a's full range)."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_resample

    rows = [
        (1, "a", "2024-01-01 00:10:00", 1.5),
        (2, "a", "2024-01-01 00:40:00", 2.25),
        (3, "a", "2024-01-01 04:10:00", 4.0),  # buckets 1,2,3 empty for a
        (4, "b", "2024-01-01 02:05:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, ts_s string, value double").select(
        "event_id", "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value"
    )
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    got = {
        (r["event_type"], r["window_start"]): (r["n_events"], r["total_value"])
        for r in events_resample(df).collect()
    }
    assert got == {
        ("a", base): (2, 3.75),
        ("a", base + 3600): (0, 0.0),
        ("a", base + 7200): (0, 0.0),
        ("a", base + 10800): (0, 0.0),
        ("a", base + 14400): (1, 4.0),
        ("b", base + 7200): (1, 7.0),
    }


def test_events_new_users_first_seen(spark):
    """Hand case: a user counts only in their FIRST day's bucket; the
    cumulative curve is a running sum over the bucket rows."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_new_users

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-03 10:00:00"),  # returning: not new on day 3
        (2, "2024-01-01 23:00:00"),
        (3, "2024-01-03 01:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    base = 1704067200
    got = [
        (r["window_start"], r["new_users"], r["cum_users"])
        for r in events_new_users(df).orderBy("window_start").collect()
    ]
    assert got == [(base, 2, 2), (base + 2 * 86400, 1, 3)]


def test_events_moving_stats_hand_case(spark):
    """Trailing 3-row frame: partial frames at the head, exact decimal
    sums, (ts, event_id) tie order."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_moving_stats

    rows = [
        (1, 7, "2024-01-01 00:00:01", 1.25),
        (2, 7, "2024-01-01 00:00:02", 2.50),
        (3, 7, "2024-01-01 00:00:03", 4.00),
        (4, 7, "2024-01-01 00:00:04", 8.00),
        (5, 9, "2024-01-01 00:00:01", 100.00),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts_s string, value double").select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value"
    )
    got = {r["event_id"]: (r["frame_n"], r["moving_sum"]) for r in events_moving_stats(df, frame_rows=3).collect()}
    assert got == {
        1: (1, 1.25),
        2: (2, 3.75),
        3: (3, 7.75),
        4: (3, 14.50),
        5: (1, 100.00),
    }


def test_real_format_decoders():
    """decode_ppm / decode_wav_pcm16 parse REAL format bytes: hand-built
    images (with a header comment — the spec feature a fake parser would
    miss), stdlib-written WAVs, and loud failures on unsupported shapes."""
    import io
    import struct
    import wave

    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        decode_ppm,
        decode_wav_pcm16,
        real_media_features,
    )

    # 2x1 image, known pixels, comment in header
    ppm = b"P6\n# a comment\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    px = decode_ppm(ppm)
    assert px.shape == (1, 2, 3) and px.tolist() == [[[10, 20, 30], [40, 50, 60]]]
    feats = real_media_features(ppm, "image")
    assert feats[:2].tolist() == [2.0, 1.0]
    assert feats[2] == np.float32((10 + 40) / 2.0)  # meanR
    assert feats[5] == np.float32((100 + 1600) / 2.0 - 25.0 * 25.0)  # varR

    # stdlib-written WAV with known samples decodes to those samples
    buf = io.BytesIO()
    samples = [0, 1000, -1000, 32767, -32768]
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<5h", *samples))
    rate, got = decode_wav_pcm16(buf.getvalue())
    assert rate == 8000 and got.tolist() == samples
    af = real_media_features(buf.getvalue(), "audio")
    assert af[0] == 8000.0 and af[1] == 5.0 and af[4] == -32768.0 and af[5] == 32767.0
    assert af[6] == 3.0  # sign flips: 1000->-1000, -1000->32767, 32767->-32768

    # stereo WAV refused loudly
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    with pytest.raises(ValueError):
        decode_wav_pcm16(buf2.getvalue())

    # unsupported magic stays env-blocked, loudly (MP3/MP4 — JPEG left
    # this set in r6: it decodes for real via the baseline codec, so a
    # TRUNCATED jpeg now fails as a corrupt stream, not as unsupported;
    # PNG left in r5 the same way)
    with pytest.raises(NotImplementedError):
        real_media_features(b"\x00\x00\x00\x18ftypmp42....", "video")
    with pytest.raises(Exception):
        real_media_features(b"\xff\xd8\xff\xe0JFIF....", "image")
    with pytest.raises(Exception):
        real_media_features(b"\x89PNG\r\n\x1a\n....", "image")


def test_synth_media_real_payloads_are_real_formats(spark):
    """The generated payloads parse with the REAL decoders and the gated
    feature path equals a local recompute from the decoded values."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        decode_ppm,
        decode_wav_pcm16,
        extract_features,
        real_media_features,
        synth_media_real,
    )

    media = synth_media_real(spark, 30)
    rows = {r["media_id"]: (r["kind"], bytes(r["payload"])) for r in media.collect()}
    assert {k for k, _ in rows.values()} == {"image", "audio", "video"}
    for mid, (kind, payload) in rows.items():
        if kind == "image":
            assert decode_ppm(payload).shape == (8, 8, 3)
        elif kind == "audio":
            rate, s = decode_wav_pcm16(payload)
            assert rate == 16000 and len(s) == 128
    feats = extract_features(
        media.where("kind != 'video'"), decoder=real_media_features
    ).collect()
    for r in feats:
        kind, payload = rows[r["media_id"]]
        expect = real_media_features(payload, kind)
        assert np.array_equal(np.asarray(r["feature"], dtype=np.float32), expect)


def test_snapshot_diff_classifies_planted_changes(spark):
    from openaip_yaixm_to_geojson_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")], "doc_id bigint, text string"
    )
    got = {r["key"]: r["change_type"] for r in snapshot_diff(old, new).collect()}
    assert got == {2: "changed", 3: "removed", 4: "added"}  # unchanged key 1 absent


def test_extract_links_targets_and_fanout_rule(spark):
    """Every page emits 1 + doc_id % 3 anchors; targets follow the affine
    host/page maps; the wrap's non-anchor attributes never match."""
    from openaip_yaixm_to_geojson_spark.operators.web import extract_links, synth_linked_pages

    pages = synth_linked_pages(spark, "/root/testdata/sf0.001")
    rows = extract_links(pages).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r["link"])
    for key, links in list(by_key.items())[:50]:
        assert len(links) == 1 + key % 3
        expect = {
            f"https://host{(key * 37 + i * 11) % 97}.example.com/p/{(key * 13 + i) % 1000}"
            for i in range(1, 2 + key % 3)
        }
        assert set(links) == expect


def test_mixture_allocate_sums_to_budget_exactly(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import mixture_allocate

    docs = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 1), (3, "b", 1), (4, "c", 1)],
        "doc_id bigint, source string, n_chars bigint",
    )
    # weights 2/1/1 over budget 10 -> exact 5/2.5/2.5 -> floor 5/2/2,
    # leftover 1 seat to the remainder tie broken by name ('b' < 'c')
    got = {r["source"]: r["quota"] for r in mixture_allocate(docs, budget=10).collect()}
    assert got == {"a": 5, "b": 3, "c": 2}
    assert sum(got.values()) == 10

    real = mixture_allocate(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), budget=999_983
    ).collect()
    assert sum(r["quota"] for r in real) == 999_983  # always exactly the budget


def test_snapshot_diff_null_content_uses_presence_not_digest(spark):
    """md5(NULL) is NULL — presence must come from join indicators, never
    digest-nullness: a key present in BOTH snapshots with NULL text on one
    side is 'changed', and NULL->NULL is unchanged (absent)."""
    from openaip_yaixm_to_geojson_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "text"), (3, None), (4, None)], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "now populated"), (2, None), (3, None), (5, None)], "doc_id bigint, text string"
    )
    got = {r["key"]: r["change_type"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed", 4: "removed", 5: "added"}  # 3 unchanged


def test_event_transitions_order_and_tiebreak(spark):
    from openaip_yaixm_to_geojson_spark.operators.events import event_transitions

    rows = [
        (1, "2024-01-01 00:00:00", 10, "view"),
        (1, "2024-01-01 00:00:01", 11, "click"),
        (1, "2024-01-01 00:00:01", 12, "purchase"),  # same ts: event_id breaks the tie
        (2, "2024-01-01 00:00:00", 20, "view"),  # single event -> no transition
    ]
    ev = spark.createDataFrame(
        [(u, t, e, ty) for u, t, e, ty in rows],
        "user_id bigint, ts string, event_id bigint, event_type string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_id", "event_type")
    got = {(r["from_type"], r["to_type"]): r["n_transitions"] for r in event_transitions(ev).collect()}
    assert got == {("view", "click"): 1, ("click", "purchase"): 1}


def test_pii_scrub_counts_and_redaction(spark):
    from openaip_yaixm_to_geojson_spark.operators.text import pii_scrub

    rows = [
        (1, "mail a.b-c%d@sub.example.org and ip 192.168.0.1 call +4915123456789"),
        (2, "ip-in-email user@10.0.0.1 stays an email; bare 999.1.2.3 still matches"),
        (3, "no pii here, just +123 (too short) and 1.2.3 (not an ip)"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["key"]: r for r in pii_scrub(df).collect()}
    r1 = got[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (1, 1, 1)
    assert r1["redacted"] == "mail <EMAIL> and ip <IP> call <PHONE>"
    r2 = got[2]
    # the email pass consumes user@10.0.0.1? no — the domain has no alpha
    # TLD, so it is NOT an email; the ipv4 pass picks up both addresses
    assert (r2["n_email"], r2["n_ipv4"], r2["n_phone"]) == (0, 2, 0)
    assert r2["redacted"] == "ip-in-email user@<IP> stays an email; bare <IP> still matches"
    r3 = got[3]
    assert (r3["n_email"], r3["n_ipv4"], r3["n_phone"]) == (0, 0, 0)
    assert r3["redacted"] == rows[2][1]

    # zero-shuffle contract: per-row expressions only
    plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scd2_build_runs_and_current(spark):
    from datetime import datetime

    from openaip_yaixm_to_geojson_spark.operators.events import scd2_build

    def us(sec, micro=0):
        return 1704067200_000000 + sec * 1_000_000 + micro

    rows = [
        # user 1: view,view,click,view — three runs
        (1, 1, datetime(2024, 1, 1, 0, 0, 0), "view"),
        (2, 1, datetime(2024, 1, 1, 0, 0, 1), "view"),
        (3, 1, datetime(2024, 1, 1, 0, 0, 2), "click"),
        (4, 1, datetime(2024, 1, 1, 0, 0, 3), "view"),
        # user 2: same-microsecond boundary — event_id breaks the tie, so
        # runs are click(5) then view(6) both starting at the same us
        (5, 2, datetime(2024, 1, 1, 0, 0, 0), "click"),
        (6, 2, datetime(2024, 1, 1, 0, 0, 0), "view"),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp_ntz, event_type string")
    got = sorted(
        (r["user_id"], r["valid_from_us"], r["event_type"], r["valid_to_us"], r["n_events"], r["is_current"])
        for r in scd2_build(df).collect()
    )
    assert got == [
        (1, us(0), "view", us(2), 2, False),
        (1, us(2), "click", us(3), 1, False),
        (1, us(3), "view", None, 1, True),
        (2, us(0), "click", us(0), 1, False),
        (2, us(0), "view", None, 1, True),
    ]

    # ONE shuffle: the run groupBy and lead window reuse the lag window's
    # user_id hash partitioning
    plan = scd2_build(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_kmeans_assign_exact(spark, monkeypatch):
    """Hand-built 1-D-ish case: two seeds, known assignments, exact
    fixed-point sums; plus the member-conservation property."""
    from openaip_yaixm_to_geojson_spark.operators import similarity
    from openaip_yaixm_to_geojson_spark.operators.similarity import (
        KMEANS_FP_SCALE,
        kmeans_assign,
    )

    rows = [
        (0, [0.0, 0.0]),      # seed 0
        (1, [1.0, 0.0]),      # seed 1
        (2, [0.25, 0.0]),     # -> cluster 0
        (3, [0.75, 0.0]),     # -> cluster 1
        (4, [0.5, 0.0]),      # equidistant -> tie breaks to seed 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    monkeypatch.setattr(similarity, "KMEANS_K", 2)
    got = {(r["cluster_id"], r["dim_idx"]): r for r in kmeans_assign(df).collect()}
    s = KMEANS_FP_SCALE
    assert got[(0, 0)]["n_members"] == 3 and got[(1, 0)]["n_members"] == 2
    assert got[(0, 0)]["sum_fp"] == 0 + s // 4 + s // 2
    assert got[(1, 0)]["sum_fp"] == s + 3 * s // 4
    assert got[(0, 0)]["centroid_next"] == (0.25 + 0.5) / 3
    assert got[(0, 1)]["sum_fp"] == 0 and got[(1, 1)]["sum_fp"] == 0

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    monkeypatch.undo()
    out = kmeans_assign(emb).collect()
    n_total = emb.count()
    for d in {r["dim_idx"] for r in out}:
        assert sum(r["n_members"] for r in out if r["dim_idx"] == d) == n_total


def test_events_attribution_hand_case(spark):
    """Tie contract: a touch at the conversion's exact microsecond
    qualifies (kind orders touches first); two touches at the same us
    break to the larger event_id; a most-recent touch outside the
    lookback window yields 'none' (any earlier touch is older still)."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_attribution

    rows = [
        # user 1: click then view at the SAME us as the purchase -> the
        # same-instant view wins (touches sort before the conversion)
        (10, 1, "click", "2024-01-05 00:00:00", 0.0),
        (11, 1, "view", "2024-01-05 00:00:01", 0.0),
        (12, 1, "purchase", "2024-01-05 00:00:01", 5.0),
        # user 2: two touches at the identical us -> larger event_id wins
        (20, 2, "click", "2024-01-05 00:00:00", 0.0),
        (21, 2, "view", "2024-01-05 00:00:00", 0.0),
        (22, 2, "purchase", "2024-01-05 00:00:30", 7.0),
        # user 3: only touch is 8 days before the purchase -> none
        (30, 3, "view", "2024-01-01 00:00:00", 0.0),
        (31, 3, "purchase", "2024-01-09 00:00:01", 11.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts_s string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value",
    )
    got = {
        r["attributed_type"]: (r["n_conversions"], r["total_value"])
        for r in events_attribution(df).collect()
    }
    assert got == {"view": (2, 12.0), "none": (1, 11.0)}


def test_events_decay_weights_exact(spark):
    """Power-of-two weights: age 0 days -> 2^cap, cap'd age -> 2^0; the
    BIGINT sum is exact and order-independent."""
    from openaip_yaixm_to_geojson_spark.operators.events import (
        DECAY_AGE_CAP_DAYS,
        events_decay,
    )

    rows = [
        (1, 1, "view", "2024-01-31 23:59:59", 0.0),  # age 0 (within the last day)
        (2, 2, "view", "2024-01-30 00:00:00", 0.0),  # age 2 days
        (3, 3, "view", "2020-01-01 00:00:00", 0.0),  # far past -> capped
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts_s string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value",
    )
    [r] = events_decay(df).collect()
    cap = DECAY_AGE_CAP_DAYS
    assert r["max_weight"] == 2**cap
    assert r["decayed_weight"] == 2**cap + 2 ** (cap - 2) + 1


def test_events_decay_future_event_clamps_to_age_zero(spark):
    """An event AFTER the anchor gives a negative raw age; unclamped, the
    shift exceeds cap_days and past 63 Spark wraps mod 64 (bogus or
    negative weights) while DuckDB raises. The age is bracketed into
    [0, cap]: a future event weighs exactly 2^cap, same as age 0."""
    from openaip_yaixm_to_geojson_spark.operators.events import (
        DECAY_AGE_CAP_DAYS,
        events_decay,
    )

    rows = [
        (1, 1, "view", "2025-06-01 00:00:00", 0.0),  # ~16 months past anchor
        (2, 2, "view", "2024-01-31 23:59:59", 0.0),  # age 0
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts_s string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value",
    )
    [r] = events_decay(df).collect()
    cap = DECAY_AGE_CAP_DAYS
    assert r["max_weight"] == 2**cap
    assert r["decayed_weight"] == 2 * 2**cap


def test_mixture_allocate_corpus_scale_weights_no_bigint_wrap(spark):
    """budget * wt used to be a BIGINT product: with wt > ~9.2e18/budget
    Spark non-ANSI silently wraps (negative quotas) while DuckDB raises.
    The quota arithmetic is now DECIMAL/HUGEINT-exact: weights of 1e13
    chars at a 1M budget allocate proportionally and sum to the budget."""
    from openaip_yaixm_to_geojson_spark.operators.text import mixture_allocate

    big = 10**13  # budget * wt = 1e19 > 2^63
    docs = spark.createDataFrame(
        [(1, "a", 3 * big), (2, "b", big)], "doc_id bigint, source string, n_chars bigint"
    )
    got = {r["source"]: r["quota"] for r in mixture_allocate(docs, budget=1_000_000).collect()}
    assert got == {"a": 750_000, "b": 250_000}
    assert all(q >= 0 for q in got.values())


def test_scd2_lookup_zero_length_run_tie(spark):
    """A same-microsecond dimension boundary produces a zero-length
    [t, t) run; a probe AT t must see the superseding run, and a probe
    before the first dimension row reports 'none'."""
    from openaip_yaixm_to_geojson_spark.operators.events import scd2_lookup

    rows = [
        (1, 1, "signup", "2024-01-05 00:00:10", 0.0),
        (2, 1, "purchase", "2024-01-05 00:00:10", 0.0),  # same us: signup run is [t, t)
        (3, 1, "view", "2024-01-05 00:00:10", 0.0),      # probe at t -> purchase
        (4, 1, "click", "2024-01-05 00:00:09", 0.0),     # before first dim row -> none
        (5, 1, "view", "2024-01-06 00:00:00", 0.0),      # later -> purchase
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts_s string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value",
    )
    got = {
        (r["probe_type"], r["state_type"]): r["n_probes"]
        for r in scd2_lookup(df).collect()
    }
    assert got == {("view", "purchase"): 2, ("click", "none"): 1}


def test_lang_length_regression_matches_numpy(spark):
    """Moment-form corr/slope/intercept agrees with numpy's two-pass
    formulas to float tolerance (the gate proves cross-engine bit
    equality; this proves the algebra is the statistic it claims), and
    zero-variance groups yield NULLs, not NaN/crash."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.text import lang_length_regression

    rows = [
        (1, "alpha beta gamma delta", "en"),
        (2, "a bb ccc", "en"),
        (3, "one two three four five six seven", "en"),
        (4, "x y", "en"),
        (5, "same", "zz"),  # single doc: varx == 0 -> NULLs
        (6, "same", "zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {r["lang"]: r for r in lang_length_regression(df).collect()}
    xs = np.array([len(t) for _, t, l in rows if l == "en"], dtype=float)
    ys = np.array([len(t.split()) for _, t, l in rows if l == "en"], dtype=float)
    r = got["en"]
    assert r["n_docs"] == 4
    assert abs(r["corr_chars_tokens"] - np.corrcoef(xs, ys)[0, 1]) < 1e-12
    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(r["slope"] - slope) < 1e-12 and abs(r["intercept"] - intercept) < 1e-12
    z = got["zz"]
    assert z["n_docs"] == 2 and z["corr_chars_tokens"] is None and z["slope"] is None and z["intercept"] is None


def test_pareto_frontier_vs_bruteforce(spark):
    """Two-phase distributed skyline == brute-force dominance over a
    deterministic point cloud that includes ties on each axis and an
    exact duplicate of a frontier point (both copies must survive —
    identical points never dominate each other)."""
    from openaip_yaixm_to_geojson_spark.operators.relational import pareto_frontier

    rows = []
    for i in range(60):
        words = [f"w{(i * 7 + j * 13) % (5 + i % 11)}" for j in range((i * 37) % 23 + 2)]
        rows.append((i, " ".join(words)))
    rows.append((100, rows[41][1]))  # exact duplicate of doc 41's text
    df = spark.createDataFrame(rows, "doc_id bigint, text string").withColumn(
        "n_chars", F.length("text")
    )
    pts = {doc: (len(t), len(set(t.split()))) for doc, t in rows}
    expected = {
        doc
        for doc, (x, y) in pts.items()
        if not any(
            x2 >= x and y2 >= y and (x2 > x or y2 > y) for x2, y2 in pts.values()
        )
    }
    got = {r["doc_id"] for r in pareto_frontier(df, n_buckets=4).collect()}
    assert got == expected
    if 41 in expected:
        assert 100 in expected  # duplicate survives with its twin


def test_weighted_sample_inclusion_rule(spark):
    """The keep-set equals the exact integer rule computed in Python:
    bucket * cap < rate_num * min(n_chars, cap); weight is monotone in
    length (a capped doc behaves exactly like cap)."""
    import hashlib

    from openaip_yaixm_to_geojson_spark.operators.text import (
        SAMPLE_BUCKETS,
        WEIGHTED_LENGTH_CAP,
        WEIGHTED_RATE,
        weighted_sample,
    )

    rows = [(i, "x" * ((i * 211) % 3000 + 1), "en") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string").withColumn(
        "n_chars", F.length("text")
    )
    cap, rate = WEIGHTED_LENGTH_CAP, int(round(WEIGHTED_RATE * SAMPLE_BUCKETS))
    expected = set()
    for i, t, _ in rows:
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % SAMPLE_BUCKETS
        if bucket * cap < rate * min(len(t), cap):
            expected.add(i)
    got = {r["doc_id"] for r in weighted_sample(df).collect()}
    assert got == expected and 0 < len(got) < len(rows)


def test_boilerplate_scrub_hand_case(spark):
    """A footer on 3 pages is scrubbed from all of them (including twice
    within one page); a paragraph repeated only WITHIN one page is NOT
    boilerplate (distinct-page frequency, not copy count); order of the
    survivors is preserved; an all-boilerplate page yields empty text."""
    from openaip_yaixm_to_geojson_spark.operators.web import boilerplate_scrub

    foot = "<p>copyright footer</p>"
    pages = [
        ("u1", f"<p>alpha</p>{foot}<p>beta</p>{foot}"),
        ("u2", f"<p>gamma</p><p>gamma</p>{foot}"),  # gamma x2 same page: kept
        ("u3", foot),
    ]
    df = spark.createDataFrame(pages, "url string, html_s string").select(
        "url", F.encode("html_s", "utf-8").alias("html")
    )
    got = {r["key"]: (r["clean_text"], r["n_kept"], r["n_removed"]) for r in boilerplate_scrub(df).collect()}
    assert got == {
        "u1": ("alpha\nbeta", 2, 2),
        "u2": ("gamma\ngamma", 2, 1),
        "u3": ("", 0, 1),
    }


def test_events_anomaly_detects_planted_spike(spark):
    """A planted 50x spike after a steady baseline is flagged; steady
    buckets are not; buckets with < min_history trailing rows and
    constant-history cases yield NULL zscore."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_anomaly

    rows, eid = [], 0
    # 12 steady hours: alternate 2 and 3 events per hour (variance > 0)
    for h in range(12):
        for k in range(2 + h % 2):
            rows.append((eid, f"2024-01-01 {h:02d}:{10 + k * 7:02d}:00", "view"))
            eid += 1
    for k in range(50):  # hour 12: spike
        rows.append((eid, f"2024-01-01 12:{k % 60:02d}:{k // 60:02d}", "view"))
        eid += 1
    df = spark.createDataFrame(rows, "event_id bigint, ts_s string, event_type string").select(
        "event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type",
        F.lit(1.0).alias("value"), F.lit(0).cast("bigint").alias("user_id"), F.lit("{}").alias("props"),
    )
    base = 1704067200
    got = {r["window_start"]: r for r in events_anomaly(df).collect()}
    assert got[base]["zscore"] is None  # no history at the head
    assert got[base + 12 * 3600]["is_anomaly"] is True  # the spike
    assert got[base + 11 * 3600]["is_anomaly"] is False  # steady hour


def test_host_components_hand_case(spark):
    """Two chains merge through a shared host; directionality is ignored
    (weak components); a self-linking isolated host is its own singleton."""
    from openaip_yaixm_to_geojson_spark.operators.web import host_components

    def page(url, links):
        body = "".join(f'<a href="{l}">x</a>' for l in links)
        return (url, f"<html><body>{body}</body></html>")

    pages = [
        page("http://a.com/1", ["http://b.com/x"]),
        page("http://c.com/1", ["http://b.com/y"]),   # c -> b: joins a's component
        page("http://d.com/1", ["http://d.com/self"]),  # self-link singleton
    ]
    df = spark.createDataFrame(pages, "url string, html_s string").select(
        "url", F.encode("html_s", "utf-8").alias("html")
    )
    got = {r["host"]: r["component"] for r in host_components(df).collect()}
    assert got == {"a.com": "a.com", "b.com": "a.com", "c.com": "a.com", "d.com": "d.com"}


def test_events_time_pyramid_consistency(spark):
    """Each level's totals must equal the flat sums, and coarser levels
    must aggregate finer ones exactly (decimal-exact value sums)."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_time_pyramid

    rows = [
        (i, f"2024-01-{1 + i % 10:02d} {i % 24:02d}:{(i * 13) % 60:02d}:00", 0.01 * i)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts_s string, value double").select(
        "event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value"
    )
    out = events_time_pyramid(df).collect()
    by_level = {}
    for r in out:
        lv = by_level.setdefault(r["level"], [0, 0.0])
        lv[0] += r["n_events"]
        lv[1] += r["total_value"]
    total_v = round(sum(0.01 * i for i in range(100)), 2)
    for lv, (n, v) in by_level.items():
        assert n == 100, lv
        assert abs(v - total_v) < 1e-9, lv
    n_buckets = {lv: sum(1 for r in out if r["level"] == lv) for lv in by_level}
    assert n_buckets["hour"] >= n_buckets["day"] >= n_buckets["week"]


def test_char_diversity_hand_cases(spark):
    """Exact Gini on hand strings: uniform chars -> 0; 'ab' -> 0.5;
    counts match collections.Counter; empty text -> NULL gini."""
    from collections import Counter

    from openaip_yaixm_to_geojson_spark.operators.text import char_diversity

    rows = [(1, "aaaa"), (2, "ab"), (3, "abab cd"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in char_diversity(df).collect()}
    for doc_id, t in rows:
        r = got[doc_id]
        assert r["n_chars_total"] == len(t) and r["n_distinct_chars"] == len(set(t))
        if t:
            c = Counter(t)
            expected = (len(t) ** 2 - sum(k * k for k in c.values())) / len(t) ** 2
            assert abs(r["gini"] - expected) < 1e-15
        else:
            assert r["gini"] is None
    assert got[1]["gini"] == 0.0 and got[2]["gini"] == 0.5


def test_image_patches_exact_sums(spark):
    """Patch sums equal NumPy sums over the decoded image blocks; the
    grid covers the full image (patch sums per channel total the image
    sum); non-multiple dimensions raise."""
    import numpy as np
    import pytest as _pytest

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        decode_ppm,
        image_patches,
        make_ppm,
        synth_media_real,
    )

    media = synth_media_real(spark, 9)
    rows = image_patches(media).collect()
    assert {r["media_id"] for r in rows} == {0, 3, 6}
    px = decode_ppm(make_ppm(0)).astype(np.int64)
    for r in rows:
        if r["media_id"] != 0:
            continue
        blk = px[r["patch_row"] * 4:(r["patch_row"] + 1) * 4, r["patch_col"] * 4:(r["patch_col"] + 1) * 4]
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(int(blk[:, :, c].sum()) for c in range(3))
        assert r["mean_r"] == np.float32(r["sum_r"] / 16.0)
    total_r = sum(r["sum_r"] for r in rows if r["media_id"] == 0)
    assert total_r == int(px[:, :, 0].sum())
    with _pytest.raises(Exception, match="not a multiple"):
        image_patches(media, patch=3).collect()


def test_length_outliers_hand_case(spark):
    """Hand-computed median/MAD: lengths [10,10,12,14,100] -> median 12
    (lower), deviations [2,2,0,2,88] -> MAD 2, outliers = {100} (88 > 6);
    a constant-length lang has MAD 0 and any deviation flags."""
    from openaip_yaixm_to_geojson_spark.operators.text import length_outliers

    rows = [(i, "x" * n, "en") for i, n in enumerate([10, 10, 12, 14, 100])]
    rows += [(10 + i, "y" * n, "zz") for i, n in enumerate([5, 5, 5, 7])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string").withColumn(
        "n_chars", F.length("text")
    )
    got = {r["lang"]: r for r in length_outliers(df).collect()}
    en = got["en"]
    assert (en["n_docs"], en["median_chars"], en["mad_chars"], en["n_outliers"]) == (5, 12, 2, 1)
    zz = got["zz"]  # median 5, devs [0,0,0,2] -> MAD 0; 2 > 0 flags
    assert (zz["n_docs"], zz["median_chars"], zz["mad_chars"], zz["n_outliers"]) == (4, 5, 0, 1)


def test_session_paths_hand_case(spark):
    """Gap splits sessions (delta == gap merges, > gap splits); paths take
    the first 3 events in (ts, event_id) order; short sessions keep their
    short path; identical paths across users aggregate."""
    from openaip_yaixm_to_geojson_spark.operators.events import session_paths

    rows = [
        (1, 1, "2024-01-01 10:00:00", "view"),
        (2, 1, "2024-01-01 10:05:00", "click"),
        (3, 1, "2024-01-01 10:10:00", "purchase"),
        (4, 1, "2024-01-01 10:12:00", "view"),      # 4th event: beyond path_len
        (5, 1, "2024-01-01 11:00:00", "view"),      # 48 min gap > 30 -> new session
        (6, 2, "2024-01-02 09:00:00", "view"),
        (7, 2, "2024-01-02 09:30:00", "click"),     # delta == gap exactly: MERGES
        (8, 2, "2024-01-02 09:40:00", "purchase"),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts_s string, event_type string").select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type"
    )
    got = {r["path"]: r["n_sessions"] for r in session_paths(df).collect()}
    assert got == {"view>click>purchase": 2, "view": 1}


def test_co_citation_cap_and_pairs(spark):
    """Pairs count pages citing both hosts (within-page duplicate links
    collapse); the per-page cap bounds a link-farm page to C(cap,2)
    pairs."""
    from openaip_yaixm_to_geojson_spark.operators.web import co_citation

    def page(url, hosts):
        body = "".join(f'<a href="http://{h}/p">x</a>' for h in hosts)
        return (url, f"<html><body>{body}</body></html>")

    pages = [
        page("http://s1.com/a", ["x.com", "y.com", "x.com"]),  # dup link collapses
        page("http://s2.com/b", ["x.com", "y.com", "z.com"]),
        page("http://farm.com/c", [f"h{i}.com" for i in range(10)]),  # capped to 4
    ]
    df = spark.createDataFrame(pages, "url string, html_s string").select(
        "url", F.encode("html_s", "utf-8").alias("html")
    )
    got = {(r["host_a"], r["host_b"]): r["n_pages"] for r in co_citation(df, max_hosts_per_page=4).collect()}
    assert got[("x.com", "y.com")] == 2
    assert got[("x.com", "z.com")] == 1 and got[("y.com", "z.com")] == 1
    farm_pairs = [k for k in got if k[0].startswith("h") and k[1].startswith("h")]
    assert len(farm_pairs) == 6  # C(4,2), not C(10,2)=45


def test_normalized_dedup_catches_reformatted_copies(spark):
    """'Hello,  World!' and 'hello world' collapse into one group with
    n_raw_variants=2; a genuinely different doc stays apart; byte-exact
    copies count but add no raw variant."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import normalized_dedup

    rows = [
        (1, "Hello,  World!"),
        (2, "hello world"),
        (3, "hello world"),     # byte-exact copy of 2
        (4, "goodbye world"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["representative"]: r for r in normalized_dedup(df).collect()}
    assert set(got) == {1, 4}
    assert got[1]["n_copies"] == 3 and got[1]["n_raw_variants"] == 2
    assert got[4]["n_copies"] == 1 and got[4]["n_raw_variants"] == 1


def test_variant_surface_equals_json_path(spark):
    """The VARIANT path (parse_json + variant_get) must agree with the
    get_json_object twin row-for-row, including missing-key and non-JSON
    rows (both -> NULL k)."""
    from openaip_yaixm_to_geojson_spark.operators.events import (
        props_k_stats,
        props_k_stats_variant,
    )

    rows = [
        (1, "a", '{"k": 5}'),
        (2, "a", '{"k": 5, "other": 1}'),
        (3, "a", '{"other": 1}'),   # missing key
        (4, "b", '{"k": -3}'),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, props string")
    a = {tuple(r) for r in props_k_stats(df).collect()}
    b = {tuple(r) for r in props_k_stats_variant(df).collect()}
    assert a == b and len(a) == 2


def test_quality_funnel_cumulative(spark):
    """Funnel counts are monotone non-increasing and a doc failing an
    early gate never appears in later counts even if later conditions
    hold."""
    from openaip_yaixm_to_geojson_spark.operators.text import quality_funnel

    rows = [
        (1, "short", "s1"),                                   # fails length
        (2, "the quick brown fox jumps over the lazy dog " * 3, "s1"),  # passes all
        (3, ("abc " * 20) + "!!!!!!!!!!!!!!!!!!!!!!!!", "s1"),  # length ok, punct fails
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    r = quality_funnel(df).collect()[0]
    seq = [r["n_total"], r["n_len_ok"], r["n_wordlen_ok"], r["n_punct_ok"], r["n_all_ok"]]
    assert seq == [3, 2, 2, 1, 1]
    assert all(a >= b for a, b in zip(seq, seq[1:]))


def test_ann_topk_filtered_respects_filter(spark, monkeypatch):
    """Every returned neighbor shares the query's label, and the result
    equals brute force within the filtered set (pre-filter, not a
    post-filtered global top-k)."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators import similarity
    from openaip_yaixm_to_geojson_spark.operators.similarity import ann_topk_filtered

    rng_vals = [[((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(8)] for i in range(30)]
    rows = [(i, [float(v) for v in rng_vals[i]], i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    monkeypatch.setattr(similarity, "ANN_QUERIES", 3)
    monkeypatch.setattr(similarity, "ANN_K", 2)
    got = ann_topk_filtered(df).collect()
    labels = {i: i % 3 for i in range(30)}
    vecs = {i: np.array(rng_vals[i], dtype=np.float32).astype(np.float64) for i in range(30)}
    for r in got:
        assert labels[r["vec_id"]] == labels[r["query_id"]]
    for qid in range(3):
        cands = sorted(
            ((float(np.sum(np.cumsum([0.0] + list(vecs[i] * vecs[qid]))[-1:])), i)
             for i in range(30) if i != qid and labels[i] == labels[qid]),
        )
        # brute force: top-2 by dot desc, vec_id asc
        exact = sorted(((-d, i) for d, i in cands))[:2]
        mine = sorted((r["rank"], r["vec_id"]) for r in got if r["query_id"] == qid)
        assert [i for _, i in exact] == [v for _, v in mine]


def test_cross_source_dupes_planted(spark):
    """A text planted in 3 sources (4 copies) is reported with a sorted
    source list; single-source duplicates are NOT leakage."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import cross_source_dupes

    rows = [
        (1, "leaked text", "cc"),
        (2, "leaked text", "books"),
        (3, "leaked text", "wiki"),
        (4, "leaked text", "cc"),      # second copy in cc: counts, adds no source
        (5, "same-source dupe", "cc"),
        (6, "same-source dupe", "cc"),
        (7, "unique", "books"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = cross_source_dupes(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_sources"], r["n_copies"], r["sources"]) == (3, 4, "books,cc,wiki")


def test_host_degree_histogram_hand_case(spark):
    """Distinct-neighbor degrees: parallel links collapse; the histogram
    buckets hosts by out-degree."""
    from openaip_yaixm_to_geojson_spark.operators.web import host_degree_histogram

    def page(url, links):
        body = "".join(f'<a href="{l}">x</a>' for l in links)
        return (url, f"<html><body>{body}</body></html>")

    pages = [
        page("http://a.com/1", ["http://x.com/1", "http://x.com/2", "http://y.com/"]),  # deg 2
        page("http://b.com/1", ["http://x.com/9"]),  # deg 1
        page("http://c.com/1", ["http://z.com/"]),   # deg 1
    ]
    df = spark.createDataFrame(pages, "url string, html_s string").select(
        "url", F.encode("html_s", "utf-8").alias("html")
    )
    got = {r["out_degree"]: r["n_hosts"] for r in host_degree_histogram(df).collect()}
    assert got == {2: 1, 1: 2}


def test_returned_item_revenue_hand_case(spark):
    """Only R-flagged lines inside the date window count; revenue is
    price x (1 - discount) decimal-exact; top-k orders on the exact
    decimal with custkey tie-break."""
    from openaip_yaixm_to_geojson_spark.operators.relational import returned_item_revenue

    cust = spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 10)], "c_custkey bigint, c_name string, c_nationkey bigint"
    )
    nat = spark.createDataFrame([(10, "FR")], "n_nationkey bigint, n_name string")
    orders = spark.createDataFrame(
        [(100, 1, "1996-02-01"), (200, 2, "1996-02-01"), (300, 1, "1995-02-01")],
        "o_orderkey bigint, o_custkey bigint, d string",
    ).select("o_orderkey", "o_custkey", F.col("d").cast("timestamp_ntz").alias("o_orderdate"))
    li = spark.createDataFrame(
        [
            (100, 100.0, 0.10, "R"),   # alice: 90.00
            (100, 50.0, 0.00, "N"),    # not returned
            (200, 200.0, 0.25, "R"),   # bob: 150.00
            (300, 999.0, 0.00, "R"),   # outside window
        ],
        "l_orderkey bigint, l_extendedprice double, l_discount double, l_returnflag string",
    )
    got = returned_item_revenue(cust, orders, li, nat, k=10).collect()
    assert [(r["c_name"], r["revenue"], r["n_items"]) for r in got] == [
        ("bob", 150.0, 1),
        ("alice", 90.0, 1),
    ]


def test_label_centroid_distances_matches_numpy(spark):
    """Fixed-point centroid distances agree with numpy's float centroids
    to quantization tolerance, and exact-zero separation for two labels
    with identical member multisets."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.similarity import label_centroid_distances

    vecs = [[((i * 17 + j * 5) % 11 - 5) / 5.0 for j in range(4)] for i in range(12)]
    rows = [(i, [float(v) for v in vecs[i]], i % 2) for i in range(12)]
    # label 7 == label 8: same multiset of vectors -> dist exactly 0
    rows += [(100 + i, [float(v) for v in vecs[i]], 7) for i in range(4)]
    rows += [(200 + i, [float(v) for v in vecs[i]], 8) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    got = {(r["label_a"], r["label_b"]): r for r in label_centroid_distances(df).collect()}
    c0 = np.mean([vecs[i] for i in range(12) if i % 2 == 0], axis=0)
    c1 = np.mean([vecs[i] for i in range(12) if i % 2 == 1], axis=0)
    expected = float(np.sum((c0 - c1) ** 2))
    # tolerance: 2^-20 quantization per component, squared terms across 4 dims
    assert abs(got[(0, 1)]["dist_sq"] - expected) < 1e-6
    assert got[(7, 8)]["dist_sq"] == 0.0
    assert got[(0, 1)]["n_a"] == 6 and got[(0, 1)]["n_b"] == 6


def test_events_window_users_and_url_stats(spark):
    """Distinct users per window hand case; URL depth counts path
    segments after the scheme+host prefix and flags query strings."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_window_users
    from openaip_yaixm_to_geojson_spark.operators.web import url_path_stats

    ev = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 10:05:00"),
            (2, 7, "2024-01-01 10:25:00"),  # same user, same hour
            (3, 9, "2024-01-01 10:59:00"),
            (4, 7, "2024-01-01 11:01:00"),
        ],
        "event_id bigint, user_id bigint, ts_s string",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    base = 1704067200 + 10 * 3600
    got = {r["window_start"]: (r["n_users"], r["n_events"]) for r in events_window_users(ev).collect()}
    assert got == {base: (2, 3), base + 3600: (1, 1)}

    pages = spark.createDataFrame(
        [
            ("http://a.com/x/y/z.html",),
            ("http://a.com/p?q=1",),
            ("http://b.com/",),
        ],
        "url string",
    )
    got2 = {r["host"]: r for r in url_path_stats(pages).collect()}
    assert (got2["a.com"]["max_depth"], got2["a.com"]["total_depth"], got2["a.com"]["n_with_query"]) == (3, 4, 1)
    assert (got2["b.com"]["n_pages"], got2["b.com"]["max_depth"]) == (1, 1)


def test_reciprocal_links_hand_case(spark):
    """Only mutually-linking host pairs emit, with per-direction
    multiplicities; self-links never count."""
    from openaip_yaixm_to_geojson_spark.operators.web import reciprocal_links

    def page(url, links):
        body = "".join(f'<a href="{l}">x</a>' for l in links)
        return (url, f"<html><body>{body}</body></html>")

    pages = [
        page("http://a.com/1", ["http://b.com/x", "http://b.com/y", "http://c.com/"]),
        page("http://b.com/1", ["http://a.com/z"]),
        page("http://c.com/1", ["http://c.com/self"]),  # self-link: ignored
    ]
    df = spark.createDataFrame(pages, "url string, html_s string").select(
        "url", F.encode("html_s", "utf-8").alias("html")
    )
    got = [(r["host_a"], r["host_b"], r["n_ab"], r["n_ba"]) for r in reciprocal_links(df).collect()]
    assert got == [("a.com", "b.com", 2, 1)]


def test_conversion_latency_hand_case(spark):
    """Purchases BEFORE the first view don't count; the first at-or-after
    purchase wins; same-instant converts with latency 0; non-converters
    are omitted."""
    from openaip_yaixm_to_geojson_spark.operators.events import conversion_latency

    rows = [
        (1, 1, "2024-01-01 09:00:00", "purchase"),  # before first view: ignored
        (2, 1, "2024-01-01 10:00:00", "view"),
        (3, 1, "2024-01-01 12:30:00", "purchase"),  # first valid: 2.5h
        (4, 1, "2024-01-01 13:00:00", "purchase"),
        (5, 2, "2024-01-02 08:00:00", "view"),
        (6, 2, "2024-01-02 08:00:00", "purchase"),  # same instant: latency 0
        (7, 3, "2024-01-03 08:00:00", "view"),      # never converts
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts_s string, event_type string").select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type"
    )
    got = {r["user_id"]: r["latency_us"] for r in conversion_latency(df).collect()}
    assert got == {1: 2 * 3600 * 1_000_000 + 1800 * 1_000_000, 2: 0}


def test_audio_frames_exact(spark):
    """Frame aggregates equal NumPy over the decoded samples; frames
    tile the clip (sums conserve); non-multiple frame size raises."""
    import numpy as np
    import pytest as _pytest

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        audio_frames,
        decode_wav_pcm16,
        make_wav,
        synth_media_real,
    )

    media = synth_media_real(spark, 9)
    rows = audio_frames(media).collect()
    assert {r["media_id"] for r in rows} == {1, 4, 7}
    _, samples = decode_wav_pcm16(make_wav(1))
    sm = samples.astype(np.int64).reshape(-1, 32)
    for r in rows:
        if r["media_id"] != 1:
            continue
        row = sm[r["frame_idx"]]
        assert r["s_sum"] == int(row.sum()) and r["s_sumsq"] == int((row * row).sum())
        assert r["s_min"] == int(row.min()) and r["s_max"] == int(row.max())
        assert r["mean"] == np.float32(r["s_sum"] / 32.0)
    assert sum(r["s_sum"] for r in rows if r["media_id"] == 1) == int(samples.astype(np.int64).sum())
    with _pytest.raises(Exception, match="not a multiple"):
        audio_frames(media, frame=33).collect()


def test_bfs_depth_hand_case(spark):
    """Chain a-b-c-d plus a shortcut a-c: depths 0,1,1,2; unreachable
    nodes absent; directed mode respects edge direction."""
    from openaip_yaixm_to_geojson_spark.operators.graph import bfs_depth

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
        "src string, dst string",
    )
    got = {r["node"]: r["depth"] for r in bfs_depth(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    directed = spark.createDataFrame([("b", "a"), ("a", "c")], "src string, dst string")
    got2 = {r["node"]: r["depth"] for r in bfs_depth(directed, "a", directed=True).collect()}
    assert got2 == {"a": 0, "c": 1}  # b->a not followed forward


def test_events_stickiness_hand_case(spark):
    """Hand-computed DAU/MAU over a 3-day window: repeat visits within a
    day collapse; the trailing window picks up users from earlier days;
    days without events get no row."""
    from openaip_yaixm_to_geojson_spark.operators.events import events_stickiness

    rows = [
        (1, 1, "2024-01-01 10:00:00"),
        (2, 2, "2024-01-01 11:00:00"),
        (3, 1, "2024-01-01 12:00:00"),  # same user/day: collapses
        (4, 1, "2024-01-03 09:00:00"),  # day 2 empty
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts_s string").select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    base = 1704067200
    got = {r["day_start"]: (r["dau"], r["mau"], r["stickiness"]) for r in events_stickiness(df, window_days=3).collect()}
    assert got == {base: (2, 2, 1.0), base + 2 * 86400: (1, 2, 0.5)}


def test_containment_pairs_asymmetric(spark):
    """A short doc fully quoted inside a long one: containment(A in B) =
    1.0 while containment(B in A) is low — only the (A, B) orientation
    passes the threshold; unrelated docs produce nothing."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = "intro words here " + quote + " trailing content " + " ".join(
        f"w{i}" for i in range(30)
    )
    rows = [
        (1, quote),
        (2, long_doc),
        (3, "совершенно unrelated text " + " ".join(f"z{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["key_a"], r["key_b"]): r["containment"] for r in containment_pairs(df).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0


def test_lang_confusion_rows_sum_to_one(spark):
    """Row fractions per true language sum to exactly the class total;
    the diagonal carries per-class recall."""
    from openaip_yaixm_to_geojson_spark.operators.text import lang_confusion

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = lang_confusion(docs).collect()
    by_true = {}
    for r in rows:
        t = by_true.setdefault(r["lang_true"], [0, 0.0])
        t[0] += r["n_docs"]
        t[1] += r["frac_of_true"]
    for lang, (n, frac) in by_true.items():
        assert n > 0 and abs(frac - 1.0) < 1e-12, lang


def test_dedup_report_hand_case(spark):
    """Three exact copies across two sources form one cluster: the
    smallest-id member is the representative, the other two count as
    dropped in THEIR OWN sources; unique docs are their own reps."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import dedup_report

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, dup, "s1"),
        (2, dup, "s1"),
        (3, dup, "s2"),
        (4, "completely different text with many unique words here", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {r["source"]: r for r in dedup_report(df).collect()}
    assert (got["s1"]["n_docs"], got["s1"]["n_representatives"], got["s1"]["n_dropped"]) == (2, 1, 1)
    assert (got["s2"]["n_docs"], got["s2"]["n_representatives"], got["s2"]["n_dropped"]) == (2, 1, 1)
    assert got["s1"]["dup_ratio"] == 0.5


def test_doc_novelty_and_seasonality(spark):
    """Novelty: the first doc owns all its shingles (1.0); an exact copy
    later owns none (0.0); a half-overlap doc scores its new fraction.
    Seasonality fractions per type sum to 1."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import doc_novelty
    from openaip_yaixm_to_geojson_spark.operators.events import events_seasonality

    base = "a b c d e f"          # shingles: abc bcd cde def (4)
    rows = [
        (1, base),
        (2, base),                 # exact copy: novelty 0
        (3, "e f g h i"),          # shingles efg fgh ghi (3, all new)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in doc_novelty(df).collect()}
    assert got[1]["novelty"] == 1.0 and got[2]["novelty"] == 0.0
    assert got[3]["n_shingles"] == 3 and got[3]["novelty"] == 1.0

    ev = spark.createDataFrame(
        [(i, "t", f"2024-01-01 {i % 24:02d}:00:00") for i in range(48)],
        "event_id bigint, event_type string, ts_s string",
    ).select("event_id", "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    rows2 = events_seasonality(ev).collect()
    assert len(rows2) == 24 and abs(sum(r["frac_of_type"] for r in rows2) - 1.0) < 1e-12
    assert all(r["n_events"] == 2 for r in rows2)


def test_length_winsorize_tiny_group_and_clipping(spark):
    """A single-doc language has lo == hi == its own length (rank targets
    coincide, zero clips); a 20-doc language clips exactly the extremes
    below p05 / above p95 and the clamped sum is exact."""
    from openaip_yaixm_to_geojson_spark.operators.text import length_winsorize

    rows = [(100, "xx", 7)] + [(i, "en", 10 * (i + 1)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    got = {r["lang"]: r for r in length_winsorize(docs).collect()}
    assert got["xx"]["lo_chars"] == got["xx"]["hi_chars"] == 7
    assert got["xx"]["n_clipped_low"] == got["xx"]["n_clipped_high"] == 0
    assert got["xx"]["winsorized_chars"] == 7
    en = got["en"]
    # n=20: lo rank ceil(20/20)=1 -> 10; hi rank ceil(19*20/20)=19 -> 190
    assert en["lo_chars"] == 10 and en["hi_chars"] == 190
    assert en["n_clipped_low"] == 0 and en["n_clipped_high"] == 1  # only 200 > 190
    assert en["winsorized_chars"] == sum(10 * (i + 1) for i in range(19)) + 190


def test_bm25_topk_hand_case(spark, monkeypatch):
    """Two query terms, hand-computed scores: doc 1 has tf(spark)=2 of 4
    tokens, doc 2 has tf(join)=1 of 2; df(spark)=1, df(join)=1, N=3.
    Scores follow the documented log-free formula with k1=1.2, b=0.75."""
    from openaip_yaixm_to_geojson_spark.operators import terms
    from openaip_yaixm_to_geojson_spark.operators.terms import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark scan agg"),
            (2, "join filter"),
            (3, "scan scan scan"),
        ],
        "doc_id bigint, text string",
    )
    monkeypatch.setattr(terms, "BM25_QUERY", ("spark", "join"))
    monkeypatch.setattr(terms, "BM25_K", 3)
    got = {r["doc_id"]: (r["score"], r["rnk"]) for r in bm25_topk(docs).collect()}

    def score(tf, df, dl, n_docs, avgdl):
        w = (n_docs - df + 0.5) / (df + 0.5)
        return w * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)))

    avgdl = (4 + 2 + 3) / 3
    s1 = score(2, 1, 4.0, 3, avgdl)
    s2 = score(1, 1, 2.0, 3, avgdl)
    assert got[1][0] == s1 and got[2][0] == s2
    assert got[1][1] == (1 if s1 > s2 else 2)
    assert 3 not in got  # no query term -> no row


def test_png_codec_roundtrip_all_filters_and_subset_guard():
    """The r5 stdlib PNG codec: encode->decode is identity for every
    scanline filter type and arbitrary sizes; unsupported subsets raise
    (honest failure, never silent fakes); the md5-chain PNG decodes to
    exactly the PPM pixel bytes."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        PPM_H,
        PPM_W,
        _md5_bytes,
        decode_png,
        encode_png,
        make_png,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (7, 13, 3)).astype(np.uint8)
    for ft in range(5):
        assert (decode_png(encode_png(img, [ft] * 7)) == img).all()
    assert (decode_png(encode_png(img)) == img).all()  # cycling filters
    px = np.frombuffer(_md5_bytes("42-px", PPM_W * PPM_H * 3), dtype=np.uint8)
    assert (decode_png(make_png(42)) == px.reshape(PPM_H, PPM_W, 3)).all()

    import pytest

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # 16-bit depth is outside the supported subset: flip the IHDR depth
    # byte (and fix its CRC is unnecessary — depth check fires first)
    p = bytearray(make_png(1))
    p[24] = 16  # IHDR data byte 8 = bit depth (8 sig + 8 len/type)
    with pytest.raises(ValueError):
        decode_png(bytes(p))


def test_gif_lzw_codec_roundtrip_and_subset_guard():
    """The r5 pure-Python GIF codec: full LZW decode (width growth, CLEAR
    resets, KwKwK path exercised by repetitive input), arbitrary sizes;
    unsupported subsets raise."""
    import numpy as np
    import pytest

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(13)
    for h, w in [(1, 1), (9, 17), (80, 80)]:  # 80x80 forces CLEAR resets
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        assert (decode_gif(encode_gif(img)) == img).all()
    # constant image: the literal-root stream still decodes (the decoder's
    # table grows over repeated codes — width-growth bookkeeping must match)
    flat = np.full((50, 50), 7, dtype=np.uint8)
    assert (decode_gif(encode_gif(flat)) == flat).all()
    with pytest.raises(ValueError):
        decode_gif(b"JFIF not a gif")


def test_range_partition_plan_exact_bins_and_guard(spark, monkeypatch):
    """Hand case: 8 distinct values x 2 rows, 4 bins -> 2 values per bin
    with exact edges; duplicates share a bin; n_bins=1 raises (the
    sequence(1,0) counts-down trap is guarded)."""
    import pytest

    from openaip_yaixm_to_geojson_spark.operators import relational
    from openaip_yaixm_to_geojson_spark.operators.relational import range_partition_plan

    rows = [(i, "en", (i % 8) * 10) for i in range(16)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    monkeypatch.setattr(relational, "RANGE_PARTITION_BINS", 4)
    got = {r["bin_id"]: r for r in range_partition_plan(docs).collect()}
    assert len(got) == 4
    assert all(r["n_docs"] == 4 for r in got.values())
    assert got[0]["lo_value"] == 0 and got[0]["hi_value"] == 10
    assert got[3]["lo_value"] == 60 and got[3]["hi_value"] == 70
    monkeypatch.setattr(relational, "RANGE_PARTITION_BINS", 1)
    with pytest.raises(ValueError):
        range_partition_plan(docs)


def test_robots_filter_longest_match_semantics(spark):
    """Hand rules: Disallow /1, Allow /12, Allow / — a /12x url is allowed
    (longer rule overrides), /1y is blocked, /3 falls to the Allow-all."""
    from openaip_yaixm_to_geojson_spark.operators.web import robots_filter

    pages = spark.createDataFrame(
        [("https://h.example/123",), ("https://h.example/19",), ("https://h.example/3",)],
        "url string",
    )
    rules = spark.createDataFrame(
        [("h.example", "/1", False), ("h.example", "/12", True), ("h.example", "/", True)],
        "host string, rule_path string, allow boolean",
    )
    got = {r["url"]: (r["allowed"], r["matched_rule"]) for r in robots_filter(pages, rules).collect()}
    assert got["https://h.example/123"] == (True, "/12")
    assert got["https://h.example/19"] == (False, "/1")
    assert got["https://h.example/3"] == (True, "/")


def test_robots_filter_pathless_url_gets_verdict(spark):
    """r5 advice: 'https://host' (no path) must not be silently dropped —
    the extracted path defaults to '/' so the Allow-all rule matches."""
    from openaip_yaixm_to_geojson_spark.operators.web import robots_filter

    pages = spark.createDataFrame(
        [("https://h.example",), ("https://h.example/19",)], "url string"
    )
    rules = spark.createDataFrame(
        [("h.example", "/1", False), ("h.example", "/", True)],
        "host string, rule_path string, allow boolean",
    )
    got = {r["url"]: (r["allowed"], r["matched_rule"]) for r in robots_filter(pages, rules).collect()}
    assert got["https://h.example"] == (True, "/")
    assert got["https://h.example/19"] == (False, "/1")


def test_gif_color_palette_raises():
    """r5 advice: decode_gif's gray output is only valid for a grayscale
    palette — a color palette must raise, not return the red channel."""
    import numpy as np
    import pytest as _pytest

    from openaip_yaixm_to_geojson_spark.operators.multimodal import decode_gif, encode_gif

    img = (np.arange(64, dtype=np.uint8) * 3).reshape(8, 8)
    blob = bytearray(encode_gif(img))
    # global palette starts right after the 13-byte header; make it color
    # by perturbing one green byte
    blob[13 + 3 * 5 + 1] ^= 0x40
    with _pytest.raises(ValueError, match="non-grayscale"):
        decode_gif(bytes(blob))
    # unperturbed stays decodable
    assert (decode_gif(encode_gif(img)) == img).all()


def test_warc_truncated_member_raises():
    """r5 advice: a truncated final gzip member fails loudly instead of
    yielding partial record bytes."""
    import gzip

    import pytest as _pytest

    from openaip_yaixm_to_geojson_spark.sources.warc import _split_members

    a = gzip.compress(b"WARC/1.0\r\nrecord-one")
    b = gzip.compress(b"WARC/1.0\r\nrecord-two")
    assert list(_split_members(a + b)) == [b"WARC/1.0\r\nrecord-one", b"WARC/1.0\r\nrecord-two"]
    with _pytest.raises(ValueError, match="truncated"):
        list(_split_members(a + b[:-4]))


def test_jpeg_entropy_roundtrip_exact():
    """decode(encode(img)) equals integer-IDCT(quantized blocks) EXACTLY
    for md5-noise images — proves the whole entropy layer (canonical
    Huffman, DC prediction, zigzag, 0xFF stuffing) is lossless."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        JPEG_QUANT,
        _md5_bytes,
        decode_jpeg,
        encode_jpeg,
        jpeg_idct_int,
        jpeg_quantized_blocks,
    )

    stuffed = 0
    for seed in range(20):
        px = np.frombuffer(_md5_bytes(f"jt-{seed}", 16 * 16), dtype=np.uint8).reshape(16, 16)
        blob = encode_jpeg(px)
        stuffed += blob[2:-2].count(b"\xff\x00")
        dec = decode_jpeg(blob)
        blocks = jpeg_quantized_blocks(px)
        for by in range(2):
            for bx in range(2):
                nat = blocks[by, bx].reshape(8, 8) * JPEG_QUANT
                ref = jpeg_idct_int(nat)
                assert (dec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == ref).all()
    # high-frequency noise must have produced stuffed 0xFF bytes — the
    # unstuffing path was genuinely exercised, not vacuously skipped
    assert stuffed > 0


def test_jpeg_dc_only_closed_form():
    """make_jpeg's blockwise-constant images decode to the oracle's
    closed-form integers (the hash-gate contract, mirrored in NumPy)."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        _md5_bytes,
        decode_jpeg,
        make_jpeg,
    )

    for mid in (0, 7, 123):
        dec = decode_jpeg(make_jpeg(mid))
        vals = _md5_bytes(f"{mid}-px", 4)
        for i, (by, bx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
            s = vals[i] - 128
            dcq = (16 * s + 17 + 3400) // 34 - 100
            d = dcq * 17
            pix = min(255, max(0, ((2096704 * d + (1 << 23)) >> 24) + 128))
            assert (dec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == pix).all()


def test_jpeg_subset_raises_honestly():
    """Unsupported baseline-JPEG variants fail loudly per the documented
    subset: progressive SOF2, restart intervals, multi-component SOF0,
    and non-JPEG bytes."""
    import numpy as np
    import pytest as _pytest

    from openaip_yaixm_to_geojson_spark.operators.multimodal import (
        _md5_bytes,
        decode_jpeg,
        encode_jpeg,
    )

    px = np.frombuffer(_md5_bytes("js-1", 16 * 16), dtype=np.uint8).reshape(16, 16)
    blob = bytearray(encode_jpeg(px))
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG not a jpeg")
    # flip SOF0 -> SOF2 (progressive)
    i = bytes(blob).find(b"\xff\xc0")
    prog = blob[:i] + b"\xff\xc2" + blob[i + 2 :]
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(prog))
    # multi-component: patch SOF0 Nf byte
    nf_off = i + 2 + 2 + 5  # marker(2) + len(2) + precision(1) + h(2) + w(2)
    multi = bytearray(blob)
    multi[nf_off] = 3
    with _pytest.raises(ValueError, match="single-component"):
        decode_jpeg(bytes(multi))
    # DRI restart-interval marker injected before SOS
    j = bytes(blob).find(b"\xff\xda")
    dri = blob[:j] + b"\xff\xdd\x00\x04\x00\x08" + blob[j:]
    with _pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(dri))
    with _pytest.raises(ValueError, match="multiples of 8"):
        encode_jpeg(px[:12, :])


def test_registered_domain_edges(spark):
    """Single-label hosts pass through, 2-level public suffixes keep three
    labels, deep subdomains collapse to the registered domain."""
    from openaip_yaixm_to_geojson_spark.operators.web import registered_domain_col

    df = spark.createDataFrame(
        [("localhost",), ("example.com",), ("www.example.com",),
         ("a.b.example.com",), ("b.co.uk",), ("a.b.co.uk",), ("deep.a.b.co.uk",),
         ("shop.example.com.au",), ("co.uk",)],
        "host string",
    )
    got = {r["host"]: r["d"] for r in df.select("host", registered_domain_col(F.col("host")).alias("d")).collect()}
    assert got["localhost"] == "localhost"
    assert got["example.com"] == "example.com"
    assert got["www.example.com"] == "example.com"
    assert got["a.b.example.com"] == "example.com"
    assert got["b.co.uk"] == "b.co.uk"
    assert got["a.b.co.uk"] == "b.co.uk"
    assert got["deep.a.b.co.uk"] == "b.co.uk"
    assert got["shop.example.com.au"] == "example.com.au"
    # a bare public suffix has nothing to register: last-2 fallback
    assert got["co.uk"] == "co.uk"


def test_charlm_surprisal_semantics(spark):
    """Hand corpus: repeated bigrams cost fewer bits than rare ones; docs
    shorter than 2 chars drop (no bigrams); totals recompute by hand."""
    from openaip_yaixm_to_geojson_spark.operators.terms import charlm_surprisal

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "x")], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"]) for r in charlm_surprisal(docs).collect()}
    assert 3 not in rows  # single char: no bigrams
    # corpus: 'aa' x5, 'ab' x1 -> prefix 'a' total 6
    # bits(aa) = bitlen(6)-bitlen(5) = 3-3 = 0; bits(ab) = 3-1 = 2
    assert rows[1] == (3, 0)      # three 'aa'
    assert rows[2] == (3, 2)      # two 'aa' + one 'ab'


def test_dedup_keep_best_picks_highest_quality(spark):
    """Two near-identical docs cluster together; the longer/higher-quality
    copy survives; singleton clusters report themselves."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog and keeps running today"
    docs = spark.createDataFrame(
        [(10, base), (11, base + " extra tail words here"), (20, "completely different text about spark engines")],
        "doc_id bigint, text string",
    )
    out = {r["cluster_id"]: (r["doc_id"], r["n_members"]) for r in dedup_keep_best(docs).collect()}
    assert out[10] == (11, 2)  # longer dup wins on n_chars tie-break
    assert out[20] == (20, 1)


def test_kmeans_iterate_empty_cluster_keeps_seed(spark, monkeypatch):
    """Duplicate seeds leave cluster 1 empty in round 1 (tie -> seed 0);
    the round-2 centroid for the empty cluster must fall back to its seed,
    pulling the exact-duplicate vectors back to it (moved=true), while the
    distant vector stays with the round-1 mean."""
    from openaip_yaixm_to_geojson_spark.operators import similarity
    from openaip_yaixm_to_geojson_spark.operators.similarity import kmeans_iterate

    monkeypatch.setattr(similarity, "KMEANS_K", 2)
    rows = [
        (0, [1.0, 2.0]),
        (1, [1.0, 2.0]),     # duplicate seed -> cluster 1 empty in round 1
        (2, [1.2, 2.0]),
        (3, [1.3, 2.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r["vec_id"]: (r["cluster_r1"], r["cluster_r2"], r["moved"]) for r in kmeans_iterate(emb).collect()}
    # round 1: every vector ties/loses to seed 0
    assert all(v[0] == 0 for v in got.values())
    # round 2: c0 = mean of all four, c1 = seed [1,2]; the two exact-seed
    # vectors are distance 0 from c1 -> move; the far ones stay
    assert got[0][1] == 1 and got[0][2] is True
    assert got[1][1] == 1 and got[1][2] is True
    assert got[3][1] == 0 and got[3][2] is False


def test_hits_int_hand_case(spark):
    """Tiny graph, scores verified by hand (2 rounds, a0=1):
    edges a->b, a->c, b->c.
    h1: a=2, b=1, c=0 ; a1: b=h1(a)=2, c=h1(a)+h1(b)=3, a=0
    h2: a=a1(b)+a1(c)=5, b=a1(c)=3, c=0 ; a2: b=h2(a)=5, c=h2(a)+h2(b)=8."""
    from openaip_yaixm_to_geojson_spark.operators.graph import hits_int

    edges = spark.createDataFrame([("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "host string")
    got = {r["host"]: (r["hub"], r["authority"]) for r in hits_int(nodes, edges).collect()}
    assert got == {"a": (5, 0), "b": (3, 5), "c": (0, 8)}


def test_span_scrub_semantics(spark):
    """Two docs sharing an 8-gram: covered tokens scrubbed in both, the
    unique tails survive; a doc with no hot grams passes byte-identical."""
    import hashlib

    from openaip_yaixm_to_geojson_spark.operators.text import span_scrub

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),
            (2, "head0 " + shared),
            (3, "totally unique words only here now"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_scrubbed"], r["scrubbed_md5"]) for r in span_scrub(docs).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (10, 8, md5("tail1 tail2"))
    assert got[2] == (9, 8, md5("head0"))
    assert got[3] == (6, 0, md5("totally unique words only here now"))


def test_vocab_coverage_and_dataset_split(spark):
    """vocab_coverage: with vocab_size 1 only the modal term is in-vocab;
    dataset_split: counts sum to the corpus and every split label is
    from the contract set."""
    from openaip_yaixm_to_geojson_spark.operators.terms import vocab_coverage
    from openaip_yaixm_to_geojson_spark.operators.text import dataset_split

    docs = spark.createDataFrame(
        [(1, "a a b", "en"), (2, "a c", "de"), (3, "b b b c", "en")],
        "doc_id bigint, text string, lang string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_in_vocab"], r["n_oov"]) for r in vocab_coverage(docs, vocab_size=1).collect()}
    # corpus counts: b=4, a=3, c=2 -> vocab = {b}
    assert got[1] == (3, 1, 2)
    assert got[2] == (2, 0, 2)
    assert got[3] == (4, 3, 1)
    rows = dataset_split(docs).collect()
    assert sum(r["n_docs"] for r in rows) == 3
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


def test_duplicate_clusters_star_chain_and_equality(spark):
    """Chain graph 1-2-3-4-5 (the min-label worst case: diameter rounds)
    converges under star passes with everything labeled 1; random-ish pair
    graph matches duplicate_clusters exactly (two independent distributed
    algorithms, same answer)."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "key_a bigint, key_b bigint"
    )
    got = {r["key"]: r["cluster_id"] for r in duplicate_clusters_star(chain).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (30, 31), (31, 32), (32, 30), (40, 41)],
        "key_a bigint, key_b bigint",
    )
    docs = spark.createDataFrame([(i,) for i in [10, 11, 12, 20, 21, 30, 31, 32, 40, 41, 99]], "doc_id bigint")
    a = {r["key"]: r["cluster_id"] for r in duplicate_clusters(pairs, documents=docs).collect()}
    b = {r["key"]: r["cluster_id"] for r in duplicate_clusters_star(pairs, documents=docs).collect()}
    assert a == b and b[99] == 99
