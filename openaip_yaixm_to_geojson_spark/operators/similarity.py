"""Similarity search over embedding columns (array<float>).

* `cosine_topk` — exact brute-force top-k per query vector. Dot products
  are computed JVM-side with zip_with/aggregate as strict left-fold double
  sums — bit-identical to the DuckDB oracle's list_reduce fold (see
  dot_double).
* `lsh_ann_topk` — the scale path: random-hyperplane LSH buckets
  (hyperplanes derived deterministically from md5, no RNG state), probe
  only the query's bucket (+ optional multi-probe), exact re-rank inside
  the bucket. Recall measured against brute force in tests.
* `embedding_neardup_pairs` — near-duplicate detection: pairs of vectors
  with cosine >= threshold among LSH-bucket collisions.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# planes x dim (or centroids x dim) terms beyond this budget would be
# unrolled into a codegen expression tree of tens of thousands of literal
# nodes (compile-time + interpreted-fallback risk at dim ~1536); switch to
# the Arrow-batched NumPy kernel instead. The kernel reproduces the
# expression fold BIT-FOR-BIT: per-plane products are summed with cumsum
# (a strict left fold — np.sum/matmul use pairwise/BLAS orders that round
# differently near sign boundaries).
EXPR_UNROLL_MAX_TERMS = 4096
EMBED_DIM = 64  # dimension of the corpus embeddings the gated queries read
# every ANN query searches for the first ANN_QUERIES vec_ids, ANN_K hits each
ANN_QUERIES = 5
ANN_K = 3
ANN_LSH_PLANES = 2  # hyperplanes of lsh_ann_topk
ANN_TWO_STAGE_CANDIDATES = 12  # quantized candidates ann_two_stage reranks
IVF_CENTROIDS = 16
IVF_PROBES = 4  # centroid lists each query probes
NEARDUP_COSINE = 0.4  # cosine floor of embedding_neardup_pairs
NEARDUP_LSH_PLANES = 4  # hyperplanes of its bucketed candidate path


def dot_double(a: Column, b: Column) -> Column:
    """Dot product as a strict LEFT-FOLD double sum.

    Spark's `aggregate` folds left over array order; DuckDB's `list_reduce`
    does the same, and `0.0 + p1 == p1` exactly in IEEE — so both engines
    produce bit-identical dots with plain doubles. (An earlier decimal-sum
    variant was order-independent but the per-product decimal ROUNDING
    boundary differs between engines: float32 products frequently terminate
    exactly on half-ULP decimal boundaries, which diverged at sf0.1.)
    """
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, p: acc + p)


def cosine_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-ANN_K neighbours per query by dot product (queries broadcast).

    Returns (query_id, vec_id, dot, rank). Rank ties break on vec_id so the
    result is total-ordered and oracle-reproducible. For unit-normalized
    embeddings dot == cosine; use `dot / (norm_a * norm_b)` otherwise.
    """
    from pyspark.sql import Window

    from ..plans.fanout import fan_out

    embeddings = fan_out(embeddings)  # per-row dot products dominate on narrow scans
    scored = (
        embeddings.alias("e")
        .crossJoin(F.broadcast(queries.alias("q")))
        .where(F.col("q.query_id") != F.col("e.vec_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("e.vec_id").alias("vec_id"),
            dot_double(F.col("e.embedding"), F.col("q.qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "vec_id", F.col("dot").cast("double").alias("dot"), "rank")
    )


def hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: coefficient (i, j) comes
    from md5(f"plane-{i}-{j}") — no RNG state, identical on every run and
    engine."""
    out = np.empty((n_planes, dim), dtype=np.float64)
    for i in range(n_planes):
        for j in range(dim):
            digest = hashlib.md5(f"plane-{i}-{j}".encode()).hexdigest()
            out[i, j] = (int(digest[:8], 16) / float(0xFFFFFFFF)) * 2.0 - 1.0
    return out


def lsh_bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Sign-of-projection bucket id (one bit per hyperplane), JVM-side."""
    bits = []
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def _fold_dots_np(mat: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """(rows, dim) x (k, dim) -> (rows, k) dot products where each dot is a
    STRICT LEFT FOLD over the dim axis (cumsum's last element), bit-identical
    to the `aggregate`-expression fold and the DuckDB list_reduce oracle.
    np.sum/@ would use pairwise/BLAS reduction orders that can flip signs
    near zero and change bucket assignment."""
    out = np.empty((mat.shape[0], weights.shape[0]), dtype=np.float64)
    for i, w in enumerate(weights):
        out[:, i] = np.cumsum(mat * w[None, :], axis=1)[:, -1]
    return out


def _stack_vectors(vec: pd.Series) -> np.ndarray:
    return np.vstack([np.asarray(v, dtype=np.float64) for v in vec])


def lsh_bucket_udf_col(vec: Column, planes: np.ndarray) -> Column:
    """Arrow-batched twin of lsh_bucket_col for high-dim embeddings: one
    NumPy kernel per batch instead of planes x dim unrolled literals.
    Bit-identical buckets (left-fold dots, see _fold_dots_np)."""
    planes64 = planes.astype(np.float64)
    bit_weights = (1 << np.arange(len(planes64))).astype(np.int64)

    @F.pandas_udf(T.IntegerType())
    def bucket(vec_s: pd.Series) -> pd.Series:
        dots = _fold_dots_np(_stack_vectors(vec_s), planes64)
        return pd.Series(((dots >= 0).astype(np.int64) @ bit_weights).astype("int32"))

    return bucket(vec)


def bucket_assign_col(vec: Column, planes: np.ndarray) -> Column:
    """LSH bucket id: codegen expressions while planes x dim stays under
    EXPR_UNROLL_MAX_TERMS, the Arrow kernel beyond (dim ~1536 embeddings)."""
    if planes.size <= EXPR_UNROLL_MAX_TERMS:
        return lsh_bucket_col(vec, planes)
    return lsh_bucket_udf_col(vec, planes)


def lsh_ann_topk(embeddings: DataFrame, queries: DataFrame, dim: int | None = None) -> DataFrame:
    """Approximate top-ANN_K: candidates = same LSH bucket, exact re-rank inside.

    One bucket assignment pass over the corpus (expressions only), then a
    bucket-equi-join instead of the full cross join — the candidate set per
    query shrinks by ~2^ANN_LSH_PLANES / (ANN_LSH_PLANES + 1). Each query also probes
    every Hamming-1 neighbour bucket of the query (near-misses on one
    hyperplane are the dominant recall loss).
    """
    from pyspark.sql import Window

    if dim is None:
        # fallback metadata action; callers should pass dim to keep
        # plan-build free of Spark jobs
        dim = len(embeddings.select("embedding").first()[0])
    planes = hyperplanes(dim, ANN_LSH_PLANES)
    corpus = embeddings.withColumn("bucket", bucket_assign_col(F.col("embedding"), planes))
    probes = queries.withColumn("bucket", bucket_assign_col(F.col("qvec"), planes))
    neighbours = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(ANN_LSH_PLANES)]
    )
    probes = probes.withColumn("bucket", F.explode(neighbours))
    scored = (
        corpus.alias("e")
        .join(F.broadcast(probes.alias("q")), "bucket")
        .where(F.col("q.query_id") != F.col("e.vec_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("e.vec_id").alias("vec_id"),
            dot_double(F.col("e.embedding"), F.col("q.qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "vec_id", F.col("dot").cast("double").alias("dot"), "rank")
    )


def ivf_centroids(dim: int, n_centroids: int) -> np.ndarray:
    """Deterministic pseudo-random coarse-quantizer centroids, same md5
    scheme as hyperplanes() (no RNG state, no training pass — a k-means
    refinement would improve recall but break oracle determinism)."""
    out = np.empty((n_centroids, dim), dtype=np.float64)
    for i in range(n_centroids):
        for j in range(dim):
            digest = hashlib.md5(f"centroid-{i}-{j}".encode()).hexdigest()
            out[i, j] = (int(digest[:8], 16) / float(0xFFFFFFFF)) * 2.0 - 1.0
    return out


def _centroid_dots(vec: Column, centroids: np.ndarray) -> list[Column]:
    return [
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(w)) for w in c]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        for c in centroids
    ]


def ivf_assign_col(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid (max dot) list id, ties to the LOWEST centroid id —
    pure expressions, zero shuffle on the corpus.

    Single-pass argmax fold: each centroid dot is evaluated exactly once
    (the obvious array_position(dots, array_max(dots)) evaluates the whole
    dot array twice). Strict `>` keeps the EARLIEST maximum, which matches
    the oracle's first-match CASE chain including the -0.0 == 0.0 corner."""
    pairs = F.array(
        *[
            F.struct(d.alias("d"), F.lit(i).alias("cid"))
            for i, d in enumerate(_centroid_dots(vec, centroids))
        ]
    )
    init = F.struct(F.lit(float("-inf")).alias("d"), F.lit(-1).alias("cid"))
    best = F.aggregate(pairs, init, lambda acc, x: F.when(x["d"] > acc["d"], x).otherwise(acc))
    return best["cid"].cast("int")


def ivf_assign_udf_col(vec: Column, centroids: np.ndarray) -> Column:
    """Arrow-batched twin of ivf_assign_col: np.argmax's first-occurrence
    rule matches the expression fold's strict `>` (earliest maximum wins),
    over the same left-fold dots."""
    cents64 = centroids.astype(np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign(vec_s: pd.Series) -> pd.Series:
        dots = _fold_dots_np(_stack_vectors(vec_s), cents64)
        return pd.Series(np.argmax(dots, axis=1).astype("int32"))

    return assign(vec)


def ivf_assign_any_col(vec: Column, centroids: np.ndarray) -> Column:
    if centroids.size <= EXPR_UNROLL_MAX_TERMS:
        return ivf_assign_col(vec, centroids)
    return ivf_assign_udf_col(vec, centroids)


def _ivf_probe_cids_expr(qvec: Column, centroids: np.ndarray, n_probes: int) -> Column:
    qdots = F.array(
        *[
            F.struct((-d).alias("nd"), F.lit(i).alias("cid"))
            for i, d in enumerate(_centroid_dots(qvec, centroids))
        ]
    )
    return F.transform(F.slice(F.sort_array(qdots), 1, n_probes), lambda s: s["cid"])


def _ivf_probe_cids_udf(qvec: Column, centroids: np.ndarray, n_probes: int) -> Column:
    """Arrow twin of the probe-list expression: sort by (-dot, cid) — same
    key as sort_array over struct(nd, cid) — and keep the first n_probes."""
    cents64 = centroids.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(qvec_s: pd.Series) -> pd.Series:
        dots = _fold_dots_np(_stack_vectors(qvec_s), cents64)
        cids = np.arange(dots.shape[1])
        out = []
        for row in dots:
            order = np.lexsort((cids, -row))[:n_probes]
            out.append(order.astype("int32"))
        return pd.Series(out)

    return probe(qvec)


def ivf_probe_cids_col(qvec: Column, centroids: np.ndarray, n_probes: int) -> Column:
    if centroids.size <= EXPR_UNROLL_MAX_TERMS:
        return _ivf_probe_cids_expr(qvec, centroids, n_probes)
    return _ivf_probe_cids_udf(qvec, centroids, n_probes)


def ivf_ann_topk(embeddings: DataFrame, queries: DataFrame, dim: int | None = None) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest of
    IVF_CENTROIDS coarse centroids (one expression pass, no shuffle); each
    query probes its IVF_PROBES nearest centroid lists and re-ranks exactly
    inside them, keeping ANN_K.

    The inverted-list equi-join replaces the cross join — candidates per
    query shrink ~IVF_CENTROIDS/IVF_PROBES-fold. Complements the hyperplane-LSH
    variant: IVF partitions by region (good when vectors cluster), LSH by
    direction."""
    from pyspark.sql import Window

    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    cents = ivf_centroids(dim, IVF_CENTROIDS)
    corpus = embeddings.withColumn("cid", ivf_assign_any_col(F.col("embedding"), cents))
    # query probe lists: top-IVF_PROBES centroids by dot desc, centroid-id asc
    probes = queries.withColumn(
        "cid", F.explode(ivf_probe_cids_col(F.col("qvec"), cents, IVF_PROBES))
    )
    scored = (
        corpus.alias("e")
        .join(F.broadcast(probes.alias("q")), "cid")
        .where(F.col("q.query_id") != F.col("e.vec_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("e.vec_id").alias("vec_id"),
            dot_double(F.col("e.embedding"), F.col("q.qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "vec_id", F.col("dot").cast("double").alias("dot"), "rank")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, exact_all_pairs: bool = False, dim: int | None = None
) -> DataFrame:
    """Near-duplicate vectors: exact cosine >= NEARDUP_COSINE among
    candidate pairs. Candidates = same bucket of NEARDUP_LSH_PLANES
    hyperplanes (the scale path); with
    `exact_all_pairs=True` every a<b pair is checked — exhaustive and
    oracle-reproducible (use for correctness gates and small corpora).
    Returns (key_a, key_b, cosine), key_a < key_b."""
    cols = [
        F.col("vec_id").alias("key"),
        F.col("embedding").alias("vec"),
        # left-fold squared norm: oracle-reproducible bit-for-bit
        dot_double(F.col("embedding"), F.col("embedding")).alias("norm_sq"),
    ]
    if not exact_all_pairs:
        if dim is None:
            dim = len(embeddings.select("embedding").first()[0])
        planes = hyperplanes(dim, NEARDUP_LSH_PLANES)
        cols.append(bucket_assign_col(F.col("embedding"), planes).alias("bucket"))
    # materialize before the self-join: norms (and at high dim the Arrow
    # bucket kernel) would otherwise evaluate once per side (the r4
    # fan-out-reuse audit)
    bucketed = embeddings.select(*cols).localCheckpoint()
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cond = F.col("a.key") < F.col("b.key")
    if not exact_all_pairs:
        cond = cond & (F.col("a.bucket") == F.col("b.bucket"))
    cosine = (
        dot_double(F.col("a.vec"), F.col("b.vec"))
        / F.sqrt(F.col("a.norm_sq") * F.col("b.norm_sq"))
    )
    return (
        a.join(b, cond)
        .withColumn("cosine", cosine)
        .where(F.col("cosine") >= NEARDUP_COSINE)
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"), "cosine")
    )


def queries_from_embeddings(embeddings: DataFrame) -> DataFrame:
    """First ANN_QUERIES vectors (by id) as the query set."""
    return (
        embeddings.where(F.col("vec_id") < ANN_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )


def embedding_quantize(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors (the standard
    serving/storage compression): per-vector scale = max |x| (exact — an
    order-independent max of exactly-cast doubles), q_i = floor(127 *
    x_i / scale + 0.5) (floor is deterministic where a round() would
    inherit each engine's tie convention; every step is a single IEEE
    op on bit-identical inputs, so the int codes hash-gate). All-zero
    vectors quantize to all-zero codes (scale 0 guarded).

    Scale shape: pure columnar transform, zero shuffles; the scale
    column is computed in its OWN projection and stays there — Spark
    declines to collapse a projection into a higher-order-function
    lambda, so the array_max runs once per row, not once per element
    (verified in the executed plan). Output codes ride as a
    comma-joined string (primitive, hash-friendly); scale rides along
    for dequantization."""
    qv = _quantized_vectors(embeddings)
    return qv.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("qc", lambda v: v.cast("string")), ",").alias("q_codes"),
    )


INT8_LEVELS = 127  # int8 codes span [-127, 127]


def _quantized_vectors(embeddings: DataFrame, keep_embedding: bool = False) -> DataFrame:
    """(vec_id, scale, qc array<int>[, embedding]) — THE quantization
    kernel, shared by embedding_quantize, the quantized ANN path and the
    error monitor so the floor(INT8_LEVELS*x/scale + 0.5) math exists in
    exactly one place. keep_embedding carries the source vector along
    for reconstruction-style consumers."""
    from ..plans.fanout import fan_out

    embeddings = fan_out(embeddings)  # per-row array math dominates on narrow scans
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    staged = embeddings.select("vec_id", "embedding", scale.alias("scale"))
    q = F.transform(
        "embedding",
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
            F.floor(F.lit(float(INT8_LEVELS)) * x.cast("double") / F.col("scale") + F.lit(0.5))
        ).cast("int"),
    )
    cols = ["vec_id", "scale", q.alias("qc")] + (["embedding"] if keep_embedding else [])
    return staged.select(*cols)


def ann_topk_quantized(embeddings: DataFrame, k: int) -> DataFrame:
    """Top-k retrieval over int8-QUANTIZED codes: rank by the exact
    integer dot product of code vectors — the standard compressed-domain
    serving path (4x memory cut, SIMD int math on a real cluster), and
    unlike the float path the score is a BIGINT that hash-gates with no
    determinism rules at all. Ties break on vec_id.

    Scale shape: identical to cosine_topk — quantized queries broadcast,
    one WindowGroupLimit top-k; the integer fold is a left-fold over
    zip_with products (exact at any order, but the fold keeps it
    one-pass)."""
    from pyspark.sql import Window

    qv = _quantized_vectors(embeddings)
    queries = qv.where(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qc").alias("qq")
    )
    dot = F.aggregate(
        F.zip_with("qc", "qq", lambda a, b: (a.cast("bigint") * b.cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = (
        qv.alias("e")
        .crossJoin(F.broadcast(queries))
        .where(F.col("query_id") != F.col("e.vec_id"))
        .select("query_id", F.col("e.vec_id").alias("vec_id"), dot.alias("qdot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "qdot", "rank")
    )


def quantization_error(embeddings: DataFrame) -> DataFrame:
    """Per-vector max absolute reconstruction error of the int8
    quantization (dequant = q * scale / 127): the quality metric you
    monitor before switching serving to the compressed domain. Every
    step is a single IEEE op (multiply, divide, subtract, abs) and the
    max is order-independent, so the DOUBLE hash-gates under the
    standard rules. The half-step bound err <= scale/254 (+1 ulp) is
    pinned in tests."""
    # no self-join: the shared kernel carries the source vector along
    # (keep_embedding), so quantize + reconstruct is one per-row
    # pipeline — zero shuffles, and the kernel math lives in one place
    with_qc = _quantized_vectors(embeddings, keep_embedding=True)
    err = F.zip_with(
        "embedding",
        "qc",
        lambda x, qi: F.abs(
            x.cast("double") - (qi.cast("double") * F.col("scale") / F.lit(float(INT8_LEVELS)))
        ),
    )
    return with_qc.select("vec_id", "scale", F.array_max(err).alias("max_abs_err"))


KMEANS_FP_SCALE = 1 << 20  # fixed-point resolution for exact centroid sums
KMEANS_K = 8  # clusters of kmeans_assign and kmeans_iterate


def kmeans_assign(embeddings: DataFrame) -> DataFrame:
    """One Lloyd iteration over the embedding table: assign every vector
    to the nearest of KMEANS_K data-derived seed centroids (the vectors
    with vec_id < KMEANS_K, the ann_topk query convention) and emit the
    per-cluster per-dimension centroid update — the clustering step a curation
    pipeline runs to diversify / stratify training data.

    Output: (cluster_id, dim_idx, n_members, sum_fp, centroid_next).

    Determinism: assignment distance is the pinned left-fold double sum
    of (x - c)^2 (bit-identical to DuckDB's list_reduce, same as
    dot_double), ties on seed_id. The CENTROID update is the only
    cross-ROW float sum — summed in fixed point: q = floor(x * 2^20 +
    0.5) per element (multiply by a power of two is EXACT; one rounding
    at the +0.5) giving order-independent exact BIGINT sums, then ONE
    double division at the output boundary. Arbitrary-float cross-row
    double sums are order-dependent and decimal casts of full-mantissa
    floats are not provably identical across engines — fixed point is
    the honest contract, and 2^-20 resolution is far below float32
    embedding noise.

    Scale shape: seeds broadcast (k rows); assignment is one pass, no
    shuffle; the update is one map-side-partial groupBy on (cluster,
    dim) — k * dim result rows. Sum headroom: 2^63 / 2^20 leaves ~8.8e12
    unit-scale members per (cluster, dim)."""
    seeds = F.broadcast(
        embeddings.where(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("seed_id"), F.col("embedding").alias("semb")
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "semb",
            lambda x, c: (x.cast("double") - c.cast("double"))
            * (x.cast("double") - c.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # the embedding rides inside the min struct: all k rows of a vec_id
    # share it, and (d2, seed_id) always decides before the comparison
    # could reach it (seed_id is unique) — no second embeddings scan
    assigned = (
        embeddings.crossJoin(seeds)
        .select("vec_id", d2.alias("d2"), "seed_id", "embedding")
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("seed_id"), F.col("embedding"))).alias("_b"))
        .select(F.col("_b.embedding").alias("embedding"), F.col("_b.seed_id").alias("cluster_id"))
    )
    fp = F.floor(
        F.col("x").cast("double") * F.lit(float(KMEANS_FP_SCALE)) + F.lit(0.5)
    ).alias("q")
    exploded = assigned.select("cluster_id", F.posexplode("embedding").alias("dim_idx", "x")).select(
        "cluster_id", "dim_idx", fp
    )
    return (
        exploded.groupBy("cluster_id", "dim_idx")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("q").alias("sum_fp"))
        .select(
            "cluster_id",
            "dim_idx",
            "n_members",
            "sum_fp",
            (
                F.col("sum_fp").cast("double")
                / (F.col("n_members") * F.lit(KMEANS_FP_SCALE)).cast("double")
            ).alias("centroid_next"),
        )
    )


def ann_topk_filtered(embeddings: DataFrame) -> DataFrame:
    """FILTERED vector search — top-ANN_K by dot product among vectors
    sharing the query's `label` value (the tenant/language/category
    predicate every production vector store must push INTO the search,
    not apply after it: post-filtering a global top-k under-returns when
    the filter is selective). Returns (query_id, vec_id, dot, rank).

    Scale shape: the metadata predicate becomes an EQUI-JOIN key, so the
    candidate set is pruned by the hash join itself (the relational
    analogue of per-partition vector indexes); queries broadcast; same
    left-fold dot product and (dot DESC, vec_id) tie order as the
    unfiltered exact path."""
    from pyspark.sql import Window

    q = embeddings.where(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("_qf"),
    )
    scored = (
        embeddings.alias("e")
        .join(F.broadcast(q), (F.col("label") == F.col("_qf")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("vid"),
            dot_double(F.col("e.embedding"), F.col("qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", F.col("vid").alias("vec_id"), F.col("dot").cast("double").alias("dot"), "rank")
    )


def label_centroid_distances(embeddings: DataFrame) -> DataFrame:
    """Pairwise squared distances between per-label embedding centroids
    (label_a < label_b) — the cluster-separation report for mixture /
    stratification decisions. Hash-gateable float geometry over ROW-wise
    sums via the kmeans fixed-point contract: components quantize to
    floor(x * 2^20 + 0.5) BIGINTs (order-independent exact sums); the
    rational centroids sq/n never materialize — each dim's difference
    uses the common-denominator numerator num_d = sq_a*n_b - sq_b*n_a
    (EXACT BIGINT, exact double cast while |num_d| < 2^53), then exactly
    three single-rounded float ops per dim (divide by n_a*n_b*SCALE,
    square) and an ORDERED left-fold double sum across dims (the ARRAY
    fold determinism rule — never a groupBy SUM of doubles, whose value
    depends on reduction order). A first attempt summed num_d^2 exactly
    instead and failed the gate by one ulp at sf0.1: past 2^63 DuckDB's
    HUGEINT->DOUBLE double-rounds while Spark's BigDecimal rounds once.

    Scale shape: one map-side-partial groupBy to (label, dim) moments
    (#labels x dim rows — localCheckpoint()ed: the corpus explode feeds
    both self-join sides), then a dim-keyed pair join + per-pair fold at
    that tiny scale. Exact-cast headroom |num_d| ~ n^2 * 2^20 < 2^53
    holds to ~10^4.7-member labels at unit scale; shrink SCALE for more."""
    from pyspark.sql import functions as F  # local alias for clarity

    fp = F.floor(F.col("x").cast("double") * F.lit(float(KMEANS_FP_SCALE)) + F.lit(0.5))
    moments = (
        embeddings.select("label", F.posexplode("embedding").alias("dim_idx", "x"))
        .select("label", "dim_idx", fp.alias("q"))
        .groupBy("label", "dim_idx")
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    a, b = moments.alias("a"), moments.alias("b")
    num = F.col("a.sq") * F.col("b.n") - F.col("b.sq") * F.col("a.n")
    denom = (F.col("a.n") * F.col("b.n")).cast("double") * F.lit(float(KMEANS_FP_SCALE))
    u = num.cast("double") / denom
    pair = (
        a.join(b, (F.col("a.dim_idx") == F.col("b.dim_idx")) & (F.col("a.label") < F.col("b.label")))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.col("a.dim_idx").alias("dim_idx"),
            (u * u).alias("t"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.sort_array(F.collect_list(F.struct("dim_idx", "t"))).alias("ts"),
            F.min("na").alias("n_a"),
            F.min("nb").alias("n_b"),
        )
    )
    fold = F.aggregate(
        F.transform("ts", lambda s: s["t"]), F.lit(0.0), lambda acc, v: acc + v
    )
    return pair.select("label_a", "label_b", "n_a", "n_b", fold.alias("dist_sq"))


def ann_two_stage(embeddings: DataFrame) -> DataFrame:
    """Two-stage retrieval — the standard production serving shape, for
    the first ANN_QUERIES vec_ids as queries: stage 1 generates
    ANN_TWO_STAGE_CANDIDATES candidates per query in the COMPRESSED domain
    (int8 code dot products: exact BIGINTs, 4x less memory traffic),
    stage 2 reranks ONLY those candidates with the exact float dot
    (dot_double's left-fold contract). Returns (query_id, vec_id, dot,
    rank) with rank <= ANN_K over the reranked order, ties to vec_id.

    Scale shape: stage 1 is the quantized broadcast top-m; stage 2's
    exact dots run on m rows per query (never the corpus), attached by
    one vec_id equi-join + a broadcast query join."""
    from pyspark.sql import Window

    cands = ann_topk_quantized(embeddings, ANN_TWO_STAGE_CANDIDATES).select("query_id", "vec_id")
    qv = queries_from_embeddings(embeddings)
    joined = cands.join(embeddings.select("vec_id", "embedding"), "vec_id").join(
        F.broadcast(qv), "query_id"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        joined.select(
            "query_id",
            "vec_id",
            dot_double(F.col("embedding"), F.col("qvec")).alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "vec_id", F.col("dot").cast("double").alias("dot"), "rank")
    )


def kmeans_iterate(embeddings: DataFrame) -> DataFrame:
    """TWO full Lloyd rounds with reassignment — the iterative-clustering
    step beyond kmeans_assign's single update: round-1 assignment to the
    data-derived seeds (vec_id < KMEANS_K), exact fixed-point centroid update,
    then round-2 assignment to the UPDATED centroids. Output one row per
    vector: (vec_id, cluster_r1, cluster_r2, moved).

    Determinism (the integer-PageRank playbook, unrolled): round-1
    distances are the pinned left-fold double sum of (x-c)^2; centroid
    components are sum_fp / (n * 2^20) — an exact-BIGINT numerator over an
    exact-double denominator (n * 2^20 < 2^53), ONE rounding each, so both
    engines hold bit-identical round-2 centroids and the round-2 fold is
    again pinned. Ties break on cluster id. A cluster left empty in
    round 1 keeps its seed centroid (coalesce, shared contract).

    Scale shape: seeds and the KMEANS_K-row centroid table broadcast; each round
    is one pass over the vectors; the update is a map-side-partial
    (cluster, dim) aggregation with KMEANS_K*dim result rows. The round-1 frame
    feeds three consumers -> localCheckpoint (fan-out rule)."""
    fs = float(KMEANS_FP_SCALE)
    # the hint goes on the crossJoin, not on `seeds`: seeds_dbl below would
    # inherit it as the LEFT side of a left join, which Spark cannot build
    seeds = embeddings.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("semb")
    )
    d2_1 = F.aggregate(
        F.zip_with(
            "embedding",
            "semb",
            lambda x, c: (x.cast("double") - c.cast("double"))
            * (x.cast("double") - c.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    a1 = (
        embeddings.crossJoin(F.broadcast(seeds))
        .select("vec_id", d2_1.alias("d2"), "seed_id", "embedding")
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("seed_id"), F.col("embedding"))).alias("_b"))
        .select(
            "vec_id",
            F.col("_b.seed_id").alias("cluster_r1"),
            F.col("_b.embedding").alias("embedding"),
        )
        .localCheckpoint()
    )
    q = F.floor(F.col("x").cast("double") * F.lit(fs) + F.lit(0.5))
    upd = (
        a1.select("cluster_r1", F.posexplode("embedding").alias("dim_idx", "x"))
        .select("cluster_r1", "dim_idx", q.alias("q"))
        .groupBy("cluster_r1", "dim_idx")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sum_fp"))
        .select(
            "cluster_r1",
            "dim_idx",
            (
                F.col("sum_fp").cast("double")
                / (F.col("n") * F.lit(KMEANS_FP_SCALE)).cast("double")
            ).alias("c"),
        )
    )
    cent = upd.groupBy(F.col("cluster_r1").alias("cid")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim_idx", "c"))), lambda s: s["c"]
        ).alias("cemb")
    )
    seeds_dbl = seeds.select(
        F.col("seed_id").alias("cid"),
        F.transform("semb", lambda x: x.cast("double")).alias("semb_dbl"),
    )
    cent_full = F.broadcast(
        seeds_dbl.join(cent, "cid", "left").select(
            "cid", F.coalesce("cemb", "semb_dbl").alias("cemb")
        )
    )
    d2_2 = F.aggregate(
        F.zip_with(
            "embedding", "cemb", lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    a2 = (
        a1.crossJoin(cent_full)
        .select("vec_id", "cluster_r1", d2_2.alias("d2"), "cid")
        .groupBy("vec_id")
        .agg(
            F.min("cluster_r1").alias("cluster_r1"),
            F.min(F.struct(F.col("d2"), F.col("cid"))).alias("_b"),
        )
        .select(
            "vec_id",
            "cluster_r1",
            F.col("_b.cid").alias("cluster_r2"),
            (F.col("cluster_r1") != F.col("_b.cid")).alias("moved"),
        )
    )
    return a2
