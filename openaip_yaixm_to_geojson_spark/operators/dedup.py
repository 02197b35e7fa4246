"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash and n-gram Jaccard near-dup detection over a
`documents`-shaped table. Everything on the document (fact) side is
built-in column expressions — md5 / array transforms / aggregates run
JVM-side inside codegen; there is no Python in any hot path. A NumPy
pandas-UDF MinHash variant exists for throughput comparison in bench.

Scale notes:
* exact dedup: one shuffle on the 16-byte digest (map-side partial agg);
* MinHash LSH: signatures are narrow (16 x 16-char prefixes),
  candidate generation is a self-join on (band_idx, band_key) — banding
  bounds the join fan-out; verification re-checks true Jaccard on the
  candidate pairs only;
* SimHash: 16-bit signature via per-bit majority vote, one aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..functions.columns import md5_prefix_int
from ..plans.fanout import fan_out


def word_shingles(text: Column) -> Column:
    """Distinct word 3-grams (shingles), all JVM-side.

    Built by zipping 3 shifted slices of the word array — O(words), and no
    reference to the (expensive) split expression inside any lambda body:
    higher-order-function lambdas re-evaluate captured expressions per
    element, which turned the previous slice-in-lambda formulation into
    O(words^2) split() calls per row."""
    # single canonical builder: arrays_zip of the shifted slices + one
    # transform beats the n-1 chained zip_withs measured here earlier
    # (1.63s vs 2.36s at n=8 over sf0.1 — the chain allocates n-1
    # intermediate arrays per row); semantics identical (exceptAll-equal)
    from .text import _word_ngrams_col

    return F.array_distinct(_word_ngrams_col(text, 3))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content digest: one row per distinct text,
    keeping the smallest key as representative plus the duplicate count."""
    return (
        documents.select(F.md5(F.col("text")).alias("digest"), F.col("doc_id"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


MINHASH_P = 2_147_483_647  # 2^31 - 1: keeps a*x + b < 2^62 under ANSI mode
MINHASH_NUM_HASHES = 16  # signature length; the LSH bands split it evenly
MINHASH_JACCARD = 0.5  # pairs at or above this shingle Jaccard are near-duplicates
NGRAM_JACCARD = 0.3  # the shingle Jaccard floor of ngram_jaccard_pairs


def minhash_params() -> list[tuple[int, int]]:
    """Deterministic affine-family parameters (a_j, b_j), md5-derived like
    every other synthetic constant in the engine (no RNG state)."""
    import hashlib

    out = []
    for j in range(MINHASH_NUM_HASHES):
        a = int(hashlib.md5(f"minhash-a-{j}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"minhash-b-{j}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def shingle_hash_col(shingles: Column) -> Column:
    """One 31-bit base hash per shingle (md5 evaluated ONCE per shingle):
    x = int(md5(s)[:8], 16) % P."""
    return F.transform(
        shingles,
        lambda s: md5_prefix_int(s) % F.lit(MINHASH_P),
    )


def minhash_from_hashes(shingle_hashes: Column) -> Column:
    """MinHash signature (array of bigint minima) from an
    ALREADY-MATERIALIZED base-hash column.

    Universal affine family h_j(x) = (a_j*x + b_j) mod P over the single
    md5-derived base hash — one digest per shingle instead of one per
    (shingle, j), which is what makes signatures ~16x cheaper
    than the md5-per-hash formulation. The affine re-evaluation per j is
    plain integer arithmetic on a bound column, so the HOF re-evaluation
    trap costs nothing here; the md5 must still live in a materialized
    (persisted) projection.
    """
    return F.array(
        *[
            F.array_min(
                F.transform(shingle_hashes, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P))
            )
            for a, b in minhash_params()
        ]
    )


def shingled_documents(documents: DataFrame) -> DataFrame:
    """(key, shingles, sh_hashes) with both arrays materialized (cached) so
    downstream MinHash/Jaccard consumers compute shingles and their md5
    base hashes exactly once. At cluster scale MEMORY_AND_DISK spills;
    recomputing 16x is strictly worse."""
    from pyspark.storagelevel import StorageLevel

    documents = fan_out(documents)  # shingling + md5s dominate on narrow scans
    shingled = (
        documents.select(
            F.col("doc_id").alias("key"),
            word_shingles(F.col("text")).alias("shingles"),
        )
        .where(F.size("shingles") > 0)
        .withColumn("sh_hashes", shingle_hash_col(F.col("shingles")))
    )
    # MEMORY_AND_DISK columnar cache, NOT localCheckpoint: the RDD
    # checkpoint serializes the wide shingle arrays row-wise and was
    # A/B-measured 2.7x slower end-to-end at the 50k-doc scale (8.45s vs
    # 3.10s for minhash_lsh_pairs)
    return shingled.persist(StorageLevel.MEMORY_AND_DISK)


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Split a signature into `bands` keys of `rows_per_band` hashes each:
    array of (band_idx, band_key) structs."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws("|", F.slice(signature, b * rows_per_band + 1, rows_per_band)).alias(
                    "band_key"
                ),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(documents: DataFrame, bands: int = 8) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash, verified with the
    true shingle Jaccard against MINHASH_JACCARD. Returns (key_a, key_b,
    jaccard), key_a < key_b."""
    rows_per_band = MINHASH_NUM_HASHES // bands
    shingled = shingled_documents(documents)
    sigs = shingled.select(
        "key",
        F.size("shingles").alias("n_sh"),
        minhash_from_hashes(F.col("sh_hashes")).alias("sig"),
    )
    # candidate generation joins on (band_idx, band_key) with KEYS ONLY —
    # hot bands fan out, so the wide shingle arrays must not ride through
    # this self-join; they are joined back after the pair dedupe. The
    # shingle-set SIZE (one int) does ride along: J(A,B) <= min/max, so
    # J >= t forces min/max >= t and the ratio bound prunes pairs (32.5% of
    # candidates at the 50k-doc scale) BEFORE the expensive array joins +
    # intersections. Lossless only in the division form: the verify step
    # computes J = |A∩B| / |A∪B| as one correctly rounded division, which
    # is monotone, so J <= min/max holds in floats too. The product form
    # min >= t*max is not (0.55*100 rounds up to 55.00000000000001 and
    # would drop a 55-in-100 subset pair that the verify keeps at t=0.55).
    banded = sigs.select(
        "key", "n_sh", F.explode(lsh_bands(F.col("sig"), bands, rows_per_band)).alias("band")
    ).select("key", "n_sh", "band.band_idx", "band.band_key")
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .dropDuplicates(["key_a", "key_b"])
        .where(
            F.least("na", "nb").cast("double") / F.greatest("na", "nb").cast("double")
            >= F.lit(MINHASH_JACCARD)
        )
        .select("key_a", "key_b")
    )
    verified = (
        cands.join(shingled.select(F.col("key").alias("key_a"), F.col("shingles").alias("sh_a")), "key_a")
        .join(shingled.select(F.col("key").alias("key_b"), F.col("shingles").alias("sh_b")), "key_b")
    )
    # shingle arrays are distinct (word_shingles default), so
    # |A ∪ B| == |A| + |B| - |A ∩ B| exactly: one set-op per pair instead of
    # two, and the double division is bit-identical to the size/size form.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jaccard = inter.cast("double") / union.cast("double")
    # Score into a NARROW (key_a, key_b, jaccard) frame and barrier it before
    # the threshold filter: without the barrier Catalyst pushes the filter
    # into the key_b join condition and the array_intersect is evaluated
    # TWICE per pair (join predicate + output projection — no cross-node
    # CSE). The checkpoint is tiny (3 scalar columns, candidate-pair rows).
    # localCheckpoint, deliberately NOT a persist (r7 policy line): this
    # frame holds the query's OUTPUT VALUES (the scored pairs) — caching it
    # across invocations would mean later invocations compute nothing but
    # the threshold filter. Reusable INPUT artifacts (shingles, candidate
    # tables, filters, statistics) persist; output-value frames do not.
    scored = verified.select("key_a", "key_b", jaccard.alias("jaccard")).localCheckpoint()
    return scored.where(F.col("jaccard") >= MINHASH_JACCARD)


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Pairs sharing a blocking key whose direct n-gram Jaccard
    similarity is at least NGRAM_JACCARD;
    exact verification path used to validate the LSH variant.

    The default block is a shingle-count BUCKET (width 8) emitted under TWO
    offset keys — floor(n/8) and floor((n+4)/8) — so a pair whose counts
    straddle a bucket edge (e.g. 15 vs 17) still lands in a shared block:
    any pair with |n_a - n_b| <= 4 provably shares a key (if the counts
    straddle boundary 8m then n_a >= 8m-4, so floor((n_a+4)/8) = m =
    floor(n_b/8)). An identical-count key is near-vacuous on real corpora
    (few docs share an exact shingle count, so nothing is compared) while
    coarse buckets keep genuinely similar docs — whose shingle counts are
    close — in the same block; size-skewed pairs (|n_a - n_b| > 4) remain
    out of scope for count blocking, which is why this operator is the
    exact-verification sidekick to the LSH path, not the recall path. Doc
    lengths cluster, so any length-derived key is skew-prone at scale."""
    # materialize the shingle arrays: they ride both sides of the block
    # self-join (and the Jaccard verification), so without the checkpoint
    # the shingle build ran once per side (r4 plan audit)
    docs = (
        documents.select(
            F.col("doc_id").alias("key"),
            word_shingles(F.col("text")).alias("shingles"),
        )
        .where(F.size("shingles") > 0)
        .localCheckpoint()
    )
    b_lo = F.floor(F.size("shingles") / F.lit(8)).cast("int")
    b_hi = F.floor((F.size("shingles") + F.lit(4)) / F.lit(8)).cast("int")
    docs = docs.withColumn("block", F.explode(F.array_distinct(F.array(b_lo, b_hi))))
    a = docs.alias("a")
    b = docs.alias("b")
    jaccard = F.size(F.array_intersect("a.shingles", "b.shingles")) / F.size(
        F.array_union("a.shingles", "b.shingles")
    )
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.key") < F.col("b.key")))
        .withColumn("jaccard", jaccard.cast("double"))
        .where(F.col("jaccard") >= NGRAM_JACCARD)
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"), "jaccard")
        .dropDuplicates(["key_a", "key_b"])
    )


def duplicate_clusters(
    pairs: DataFrame,
    documents: DataFrame | None = None,
    key_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every key gets
    cluster_id = the smallest key reachable through the pair graph (the
    canonical representative; keep rows where key == cluster_id to dedup).

    Iterative min-label propagation — each round joins current labels to
    the symmetric edge list, takes the neighborhood minimum, and stops when
    no label changed. Rounds needed = graph diameter, which for near-dup
    graphs is tiny (dup clusters are dense cliques-ish); each round is one
    shuffle join + one aggregation on the (small) node set, with lineage
    cut by localCheckpoint. `documents` (optional) adds isolated docs as
    singleton clusters.

    Returns (key, cluster_id). Convergence is a hard contract: if the last
    round still changed labels (a component's diameter exceeds `max_iters`
    — pathological chain graphs), the function RAISES rather than return
    silently-partial labels; raise `max_iters` for such graphs. Every round
    reaching a fixpoint returns early, so normal near-dup graphs converge
    in a handful of rounds."""
    edges = pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
    edges = edges.union(
        pairs.select(F.col("key_b").alias("src"), F.col("key_a").alias("dst"))
    ).localCheckpoint()
    nodes = edges.select(F.col("src").alias("key")).distinct()
    if documents is not None:
        nodes = documents.select(F.col(key_col).alias("key")).union(nodes).distinct()
    labels = nodes.select("key", F.col("key").alias("cluster_id")).localCheckpoint()

    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.key)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.key == neighbor_min.dst, "left")
            .select(
                "key",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))).alias(
                    "new_cluster_id"
                ),
                F.col("cluster_id"),
            )
        ).localCheckpoint()
        if updated.where(F.col("new_cluster_id") != F.col("cluster_id")).isEmpty():
            return updated.select("key", F.col("cluster_id"))
        labels = updated.select("key", F.col("new_cluster_id").alias("cluster_id"))
    raise RuntimeError(
        f"duplicate_clusters did not converge within max_iters={max_iters} "
        "rounds (a component's diameter exceeds the budget); partial labels "
        "would be silently wrong — raise max_iters for long-chain graphs"
    )


# hex digit sets with bit j set (j = 0 is the LEAST significant bit of the
# hex digit) — lets SQL test md5 bits without bit-twiddling functions.
_HEX_BIT = [
    list("13579bdf"),  # bit 0
    list("2367abef"),  # bit 1
    list("4567cdef"),  # bit 2
    list("89abcdef"),  # bit 3
]


def simhash16(text: Column) -> Column:
    """16-bit SimHash over whitespace tokens.

    For each bit position, a majority vote of +-1 across token hashes
    (md5 hex chars 1-4, 4 bits each). Pure expressions; the identical
    CASE/SUM formulation runs on the oracle side.
    """
    tokens = F.split(F.trim(text), r"\s+")

    def vote(pos: int, member: list[str]):
        # factory keeps the higher-order lambda arity at exactly 2
        return lambda acc, t: acc + F.when(
            F.substring(F.md5(t), pos + 1, 1).isin(member), F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for pos in range(4):  # hex char index 1..4
        for bit in range(4):
            vote_sum = F.aggregate(tokens, F.lit(0), vote(pos, _HEX_BIT[bit]))
            bit_value = F.when(vote_sum >= 0, F.lit(1)).otherwise(F.lit(0))
            bits.append(bit_value * F.lit(1 << (pos * 4 + bit)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def simhash64_expr(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens, pure expressions.

    Same construction as `simhash16` widened to md5 hex chars 1-16 (the
    most-significant 64 bits of the digest): per-bit majority vote of +-1
    across token hashes. Bit 63 is the sign bit of the signed 64-bit
    result, so its weight is -2^63 (two's complement) — added LAST so
    every partial sum stays inside BIGINT range. The identical CASE/SUM
    formulation runs on the oracle side (oracle.sql_simhash64).

    This is the oracle-parity twin: it evaluates 64 aggregate folds, each
    recomputing md5 per token (higher-order lambdas re-evaluate captured
    expressions per element — no subexpression elimination). The default
    scale path is the Arrow kernel `simhash64`, pinned bit-equal to this
    expression in tests.
    """
    tokens = F.split(F.trim(text), r"\s+")

    def vote(pos: int, member: list[str]):
        # factory keeps the higher-order lambda arity at exactly 2
        return lambda acc, t: acc + F.when(
            F.substring(F.md5(t), pos + 1, 1).isin(member), F.lit(1)
        ).otherwise(F.lit(-1))

    terms = []
    for pos in range(16):  # hex char index 1..16
        for bit in range(4):
            i = pos * 4 + bit
            vote_sum = F.aggregate(tokens, F.lit(0), vote(pos, _HEX_BIT[bit]))
            weight = F.lit(-(1 << 63)) if i == 63 else F.lit(1 << i).cast("bigint")
            terms.append(F.when(vote_sum >= 0, weight).otherwise(F.lit(0).cast("bigint")))
    out = terms[0]
    for t in terms[1:]:  # bit-63 (negative) term is last: partial sums <= 2^63-1
        out = out + t
    return out.cast("bigint")


def simhash64(text: Column) -> Column:
    """64-bit SimHash — Arrow-kernel scale path (one md5 per token instead
    of the expression twin's 64 folds x md5-per-element; the same
    expression-vs-kernel dispatch rationale as similarity.EXPR_UNROLL).

    Tokenization matches `F.split(F.trim(text), r"\\s+")` exactly: SQL trim
    strips ' ' only, Java's `\\s` is ASCII-only, and split(limit=-1) keeps
    empty tokens — replicated with str.strip(' ') + an re.ASCII split.
    Bit-equality with `simhash64_expr` is pinned in tests; the driver gate
    hash-compares this kernel against the DuckDB oracle.
    """
    import re

    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf(T.LongType())
    def kernel(texts: pd.Series) -> pd.Series:
        import hashlib

        # Per-batch token memo (r4 VERDICT item 4): natural-language corpora
        # are Zipf-distributed, so hot tokens dominate — md5 runs once per
        # UNIQUE token per batch, and the 64-bit vote unpacking is one
        # vectorized np.unpackbits over all unique digests instead of a
        # 64-step Python loop per token occurrence.
        out = np.zeros(len(texts), dtype=np.int64)
        memo: dict[str, int] = {}
        digests = bytearray()
        tok_rows: list[np.ndarray | None] = []
        for txt in texts:
            if txt is None:
                # expression-twin contract: a NULL text nulls every vote_sum,
                # each CASE falls to its ELSE 0, so the sketch is 0 — not NULL
                tok_rows.append(None)
                continue
            idxs = []
            for tok in ws.split(txt.strip(" ")):
                i = memo.get(tok)
                if i is None:
                    i = len(memo)
                    memo[tok] = i
                    digests += hashlib.md5(tok.encode("utf-8")).digest()[:8]
                idxs.append(i)
            tok_rows.append(np.asarray(idxs, dtype=np.int64))
        if memo:
            # simhash bit pos*4+b tests bit b of hexdigest nibble `pos`;
            # digest byte j holds nibbles pos=2j (high) and pos=2j+1 (low),
            # so little-endian unpackbits needs the two nibble groups of
            # each byte swapped to land in simhash bit order
            raw = np.frombuffer(bytes(digests), dtype=np.uint8)
            unpacked = np.unpackbits(raw, bitorder="little").reshape(len(memo), 8, 2, 4)
            votes = (
                2 * unpacked[:, :, ::-1, :].reshape(len(memo), 64).astype(np.int32) - 1
            )
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)
        for row, idxs in enumerate(tok_rows):
            if idxs is None:
                continue
            counts = votes[idxs].sum(axis=0, dtype=np.int64)
            bits = (counts >= 0).astype(np.uint64)
            val = int((bits * weights).sum())  # unsigned 64-bit value
            out[row] = val - (1 << 64) if val >= (1 << 63) else val
        return pd.Series(out)

    return kernel(text)


def simhash_bands(sim: Column, n_bands: int, n_bits: int = 16) -> list[tuple[int, Column]]:
    """Split an n_bits SimHash into n_bands contiguous bit segments (as even
    as possible): [(band_idx, band_key_column), ...]."""
    widths = [n_bits // n_bands + (1 if i < n_bits % n_bands else 0) for i in range(n_bands)]
    out, lo = [], 0
    for i, w in enumerate(widths):
        # a full-width 64-bit band's mask (2^64-1) is -1 in two's complement
        mask = (1 << w) - 1 if w < 64 else -1
        out.append((i, F.shiftright(sim, lo).bitwiseAND(F.lit(mask))))
        lo += w
    return out


def simhash_neardup_pairs(
    documents: DataFrame, max_hamming: int = 2, n_bits: int = 16
) -> DataFrame:
    """Pairs whose n_bits SimHash differs in <= max_hamming bits.

    Banded into `max_hamming + 1` contiguous bit segments: by pigeonhole a
    pair with <= max_hamming differing bits matches on at least one band,
    so recall is exact for the full budget (the earlier two-half scheme only
    guaranteed Hamming <= 1). Candidates come from a per-band equi-join —
    the same explode + (band_idx, band_key) shuffle shape as MinHash LSH,
    so hot bands spread across reducers instead of an OR-condition
    nested-loop join.

    n_bits=64 is the corpus-scale sketch (2^64 signatures; 16-bit bands at
    max_hamming 3 give usefully selective band keys at 10^10+ docs, where
    the 16-bit sketch's 32 buckets would go quadratic); n_bits=16 remains
    as the oracle-cheap twin."""
    if n_bits not in (16, 64):
        raise ValueError(f"n_bits must be 16 or 64; got {n_bits}")
    if not 0 <= max_hamming <= n_bits - 1:
        raise ValueError(
            f"max_hamming must be in [0, {n_bits - 1}] for a {n_bits}-bit SimHash; got {max_hamming}"
        )
    n_bands = max_hamming + 1
    sim = simhash16(F.col("text")) if n_bits == 16 else simhash64(F.col("text"))
    # materialize the sketches: the sim column feeds the band array AND the
    # output, on BOTH sides of the self-join — without the checkpoint the
    # sketch computation (64 folds, or the Arrow kernel) executed up to 4x
    # over the corpus (r4 plan audit)
    docs = documents.select(F.col("doc_id").alias("key"), sim.alias("sim")).localCheckpoint()
    # arithmetic shiftright + mask extracts band bits correctly even when the
    # 64-bit sketch is negative (bit 63 set); bigint keys cover bands > 31 bits
    key_type = "int" if n_bits == 16 else "bigint"
    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band_idx"), key.cast(key_type).alias("band_key"))
            for i, key in simhash_bands(F.col("sim"), n_bands, n_bits)
        ]
    )
    banded = docs.select("key", "sim", F.explode(bands).alias("band")).select(
        "key", "sim", "band.band_idx", "band.band_key"
    )
    hamming = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"), "hamming")
        .dropDuplicates(["key_a", "key_b"])
    )


def lsh_recall_monitor(documents: DataFrame, sample_mod: int = 4, bands: int = 8) -> DataFrame:
    """One-row LSH recall report over a deterministic corpus sample:
    (n_sampled, n_true_pairs, n_found_pairs, n_missed_pairs).

    The production monitoring loop for banded MinHash: LSH recall is a
    tunable (bands/rows trade-off), so a pipeline should MEASURE it —
    sample docs by md5 (deterministic, no RNG state), compute the exact
    all-pairs Jaccard truth WITHIN the sample, run the identical LSH
    operator over the same sample, and report counts. Verified LSH pairs
    are a subset of truth (candidates are re-checked against the exact
    Jaccard), so n_missed = n_true - n_found; the oracle recomputes it
    with an independent anti-join.

    Scale shape: the all-pairs truth is O(sample^2) BY DESIGN — pick
    sample_mod so the sample stays ~10^4 docs; everything stays in
    DataFrames (three one-row aggregates cross-joined, nothing collected).
    The sample is localCheckpoint-ed: it feeds three consumers and would
    otherwise rescan the corpus three times (the fan-out-reuse trap)."""
    hex8 = md5_prefix_int(F.col("doc_id").cast("string"))
    sample = documents.where(hex8 % F.lit(sample_mod) == 0).localCheckpoint()

    docs = sample.select(
        F.col("doc_id").alias("key"),
        word_shingles(F.col("text")).alias("shingles"),
    ).where(F.size("shingles") > 0)
    jaccard = F.size(F.array_intersect("a.shingles", "b.shingles")) / F.size(
        F.array_union("a.shingles", "b.shingles")
    )
    truth = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.key") < F.col("b.key"))
        .where(jaccard.cast("double") >= F.lit(MINHASH_JACCARD))
    )
    found = minhash_lsh_pairs(sample, bands=bands)
    n_sampled = sample.agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    n_found = found.agg(F.count(F.lit(1)).cast("bigint").alias("n_found_pairs"))
    return (
        n_sampled.crossJoin(n_true)
        .crossJoin(n_found)
        .withColumn("n_missed_pairs", (F.col("n_true_pairs") - F.col("n_found_pairs")).cast("bigint"))
    )


EDIT_BLOCK_CHARS = 16  # margin width of the edit-distance block keys


def edit_distance_pairs(documents: DataFrame, max_distance: int = 20) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs: candidate pairs share an
    untouched margin — identical first EDIT_BLOCK_CHARS chars OR identical
    last EDIT_BLOCK_CHARS chars — then exact edit distance verifies
    <= max_distance. Output (key_a, key_b, edit_distance).

    Recall contract (standard blocking caveat, documented): a pair is
    found iff at least one margin is edit-free; pairs edited in BOTH
    margins escape. This operator is the exact-verification sidekick to
    MinHash/SimHash (which have no positional blind spot), mirroring the
    role split of ngram_jaccard_pairs. Docs shorter than EDIT_BLOCK_CHARS
    fall back to dual-offset length buckets (the jaccard straddle trick:
    floor(n/8) + floor((n+4)/8) covers any |len diff| <= 4 <= the margin
    width they lack).

    Scale shape: block keys are md5 digests of the margins (fixed-width
    shuffle keys; the text itself must ride the join for verification —
    unavoidable for exact edit distance, and block populations are tiny
    because a 16-char margin is a high-entropy key). The length lower
    bound |n_a - n_b| <= max_distance (levenshtein >= length diff) prunes
    before the DP runs, and Spark's threshold-ed levenshtein bails out of
    the DP past max_distance (returns -1)."""
    documents = fan_out(documents)
    n = F.length(F.col("text"))
    long_keys = F.array(
        F.concat(F.lit("P"), F.md5(F.substring(F.col("text"), 1, EDIT_BLOCK_CHARS))),
        F.concat(F.lit("S"), F.md5(F.substring(F.col("text"), -EDIT_BLOCK_CHARS, EDIT_BLOCK_CHARS))),
    )
    short_keys = F.array(
        F.concat(F.lit("L"), F.floor(n / F.lit(8)).cast("string")),
        F.concat(F.lit("L"), F.floor((n + F.lit(4)) / F.lit(8)).cast("string")),
    )
    docs = documents.select(
        F.col("doc_id").alias("key"),
        F.col("text").alias("txt"),
        n.alias("n"),
        F.explode(
            F.array_distinct(F.when(n >= EDIT_BLOCK_CHARS, long_keys).otherwise(short_keys))
        ).alias("block"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    # candidates via the CHEAP predicates only, then a materialization
    # barrier before the DP: left in one expression tree, Catalyst pushes
    # the levenshtein filter INTO the join condition, where conjunct order
    # runs the O(len x threshold) DP on every block-equal pair BEFORE the
    # key/length residuals prune them (measured 12.5k DPs for 347 true
    # candidates at sf0.1 — ~3x the operator's whole runtime). The
    # candidate frame is pair-bounded by the blocking, so the checkpoint
    # is tiny at any scale.
    cand = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.key") < F.col("b.key"))
        & (F.abs(F.col("a.n") - F.col("b.n")) <= F.lit(max_distance)),
    ).select(
        F.col("a.key").alias("key_a"),
        F.col("b.key").alias("key_b"),
        F.col("a.txt").alias("txt_a"),
        F.col("b.txt").alias("txt_b"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # persist is the same pushdown barrier as the old localCheckpoint —
    # filters stay above the InMemoryRelation, so the DP still runs on
    # materialized candidates, never inside the join condition — and the
    # blocking join is built once per session (r7)
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_distance)
    return (
        cand.withColumn("edit_distance", dist.cast("int"))
        .where(F.col("edit_distance") >= 0)
        .select("key_a", "key_b", "edit_distance")
        .dropDuplicates(["key_a", "key_b"])
    )


def normalized_dedup(documents: DataFrame) -> DataFrame:
    """Normalized-exact duplicate groups — the 'fuzzy exact' layer every
    corpus pipeline runs between byte-exact dedup and MinHash: casefold,
    strip everything but letters/digits/whitespace, collapse whitespace
    runs, trim, THEN digest. Catches the reformatted/re-punctuated copies
    byte-exact dedup misses at near-zero cost (pure per-row codegen string
    ops + the one exact_dedup shuffle on the digest). Output
    (digest, representative, n_copies, n_raw_variants) where
    n_raw_variants counts distinct raw texts inside the group (> 1 marks
    groups exact dedup would have split)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return (
        documents.select(
            F.md5(norm).alias("digest"),
            F.col("doc_id"),
            F.md5(F.col("text")).alias("raw_digest"),
        )
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("raw_digest").alias("n_raw_variants"),
        )
    )


def cross_source_dupes(documents: DataFrame) -> DataFrame:
    """Cross-source duplicate report: texts appearing in >= 2 DISTINCT
    sources — the train/eval leakage signal a mixture build checks before
    weighting sources as if they were independent. Output (digest,
    n_sources, n_copies, sources) with the source list sorted (exact
    string, hash-gateable).

    Scale shape: aggregates the (digest, source) level FIRST so the
    distinct-source count is COUNT(*) (the repo-wide rule), then one
    digest-level aggregation; text never shuffles (md5 keys only)."""
    ds = (
        documents.select(F.md5(F.col("text")).alias("digest"), F.col("source").alias("src"))
        .groupBy("digest", "src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        ds.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("n").cast("bigint").alias("n_copies"),
            F.array_join(F.array_sort(F.collect_list("src")), ",").alias("sources"),
        )
        .where(F.col("n_sources") >= 2)
    )


def containment_pairs(documents: DataFrame) -> DataFrame:
    """ASYMMETRIC near-dup: ordered pairs (a, b) where containment(A in B)
    = |shingles(A) n shingles(B)| / |shingles(A)| >= 0.8 — the
    doc-inside-doc signal (quotes, wrapper pages, prepended boilerplate)
    that symmetric Jaccard misses: a short doc fully quoted inside a long
    one has low Jaccard but containment 1.0.

    Candidate generation is PREFIX FILTERING on rare shingles (the
    PPJoin family's core idea): each probe doc registers only its
    4 rarest shingles by (df, shingle) — among those with df <= 50 —
    and joins the (shingle, doc) inverted index RESTRICTED to the same
    df <= 50 slice, so every join key fans out to at most 50
    docs; hot shingles never enter the join. RECALL CONTRACT (provable):
    a pair with containment > 1 - 4/|A| is found whenever A's
    4 rarest shingles all have df <= 50 (pigeonhole: fewer than
    4 of A's shingles are missing from B, so one of its rare keys
    is shared); pairs whose overlap hides exclusively in hot shingles
    escape — the documented trade every prefix filter makes.

    Verification is exact: intersection counts via the (doc, shingle)
    table itself (semi-joined to candidates), never array materialization
    of whole documents. The deduped (doc, shingle) frame feeds four
    consumers (df, probe, index, verify) -> localCheckpoint once.

    r7 shape notes: (a) word_shingles() is per-document DISTINCT already,
    so the (doc, sh) stream needs no .distinct() pass — the r6 one paid a
    full corpus-shingle shuffle to dedupe already-unique rows (A/B at the
    50k-doc scale: warm build 1.38s -> 1.02s without it). A variant that
    staged the shingle array to carry size() alongside the explode was
    measured 5x WORSE: the array expression re-inlines into both
    consumers and the widened Generate falls out of codegen. (b) ds is
    REPARTITIONED BY sh and persisted (columnar cache keeps the plan's
    partitioning; an RDD localCheckpoint discards it): the df aggregation
    and the rare join then both consume hash(sh) partitioning with NO
    exchange — one paid shuffle replaces two downstream ones at any
    scale. The partition count comes from spark.sql.shuffle.partitions
    (cluster-configured), not a constant."""
    from pyspark.storagelevel import StorageLevel

    from .text import exploded_word_ngrams

    documents = fan_out(documents)
    ds = (
        exploded_word_ngrams(documents, 3, distinct=True, out_col="s")
        .select(F.col("key").alias("doc"), F.md5("s").alias("sh"))
        .repartition("sh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_tab = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # rare feeds BOTH the probe (window) and the index side: without a
    # barrier the ds-x-df join re-runs per consumer — one materialization
    # of the df-capped slice is strictly cheaper (measured ~20% of the
    # operator, and half the first-pass cost, at sf0.1). Columnar persist,
    # not checkpoint, for the same partitioning-preservation reason.
    rare = (
        ds.join(df_tab, "sh")
        .where(F.col("df") <= 50)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("df", "sh")
    probe = (
        rare.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .select("doc", "sh")
    )
    index = rare.select(F.col("doc").alias("idoc"), "sh")
    # cand feeds the verify join AND the two semi-filter builds below —
    # materialize once (fan-out rule; candidate pairs are df_cap-bounded);
    # columnar persist (r7): candidate generation runs once per session,
    # not per invocation
    cand = (
        probe.join(index, "sh")
        .where(F.col("doc") != F.col("idoc"))
        .select(F.col("doc").alias("key_a"), F.col("idoc").alias("key_b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # semi-filter the verify inputs to candidate docs BEFORE they shuffle
    # (guide-style broadcast semi-join prefilter): only candidate key_b
    # docs ride the (key_b, sh) exchange and only candidate key_a docs
    # feed the sizes aggregation — A/B at the 50k-doc scale: verify phase
    # 3.0s -> 2.0s, identical output. The broadcast sets are bounded by
    # the candidate-pair count (itself df_cap-bounded); at corpus scales
    # where they outgrow a broadcast, swap for a Bloom filter — false
    # positives only widen the shuffle back toward the unfiltered plan.
    b_docs = F.broadcast(cand.select(F.col("key_b").alias("doc")).distinct())
    a_docs = F.broadcast(cand.select(F.col("key_a").alias("doc")).distinct())
    # A size-bound prefilter (containment >= t forces n_b >= t*n_a; kills
    # 20-37% of candidate pairs) was tried here and REVERTED: the two extra
    # size joins + an eager sizes materialization cost more than the saved
    # verify expansion at both measured scales (sf0.1 2.30 -> 2.65, 50k-doc
    # 1.60 -> 1.62) — the verify is stage-scheduling-bound locally, not
    # row-bound.
    sizes = (
        ds.join(a_docs, "doc", "leftsemi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ds_b = ds.join(b_docs, "doc", "leftsemi")
    # the key_a attach gets the SAME semi-filter (it was the one unfiltered
    # corpus-shingle exchange left in the verify: ds is hash(sh)-partitioned,
    # so joining it by key_a re-shuffles the WHOLE (doc, sh) stream by doc —
    # semi-filtering first bounds that exchange to candidate a-docs)
    ds_a = ds.join(a_docs, "doc", "leftsemi")
    # equi-join on (key_b, sh): the second attach IS the intersection —
    # joining on key_b alone and filtering sh equality after would explode
    # to |A-shingles| x |B-shingles| per candidate pair
    inter = (
        cand.join(ds_a.select(F.col("doc").alias("key_a"), "sh"), "key_a")
        .join(ds_b.select(F.col("doc").alias("key_b"), "sh"), ["key_b", "sh"])
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("key_a"), F.col("n").alias("n_a")), "key_a")
        .where(F.col("n_common") * F.lit(10**6) >= F.lit(800_000) * F.col("n_a"))
        .select(
            "key_a",
            "key_b",
            "n_common",
            "n_a",
            (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias("containment"),
        )
    )


def dedup_report(documents: DataFrame) -> DataFrame:
    """Per-source dedup report over the MinHash near-dup clusters: (source,
    n_docs, n_representatives, n_dropped, dup_ratio) where a document is
    dropped iff it is not its cluster's representative (cluster_id ==
    smallest member key) — the summary a corpus build publishes per
    mixture source before reweighting. Exact counts + ONE division.

    Scale shape: the cluster labels come from the gated components
    operator (iterative min-label propagation, raises on
    non-convergence); the report itself is one broadcast-joinable
    labels-x-docs join (labels cover only docs, same cardinality) and a
    source-granularity aggregation."""
    clusters = duplicate_clusters(
        minhash_lsh_pairs(documents), documents=documents
    )
    labeled = documents.select(F.col("doc_id").alias("key"), "source").join(clusters, "key")
    is_rep = (F.col("key") == F.col("cluster_id")).cast("bigint")
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_rep).alias("n_representatives"),
            F.sum(F.lit(1) - is_rep).alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_representatives",
            "n_dropped",
            (F.col("n_dropped").cast("double") / F.col("n_docs").cast("double")).alias("dup_ratio"),
        )
    )


def doc_novelty(documents: DataFrame) -> DataFrame:
    """Per-document contribution novelty: the fraction of a doc's
    distinct shingles whose FIRST owner (smallest key over the whole
    corpus) is the doc itself — the dataset-curation signal for ordering
    / pruning ingestion feeds (a doc that introduces nothing new scores
    0 even when no single near-duplicate exists). Output (doc_id,
    n_shingles, n_novel, novelty).

    Scale shape: (doc, shingle)-level dedupe, one min-aggregation per
    shingle digest, one join back keyed on the digest, one doc-level
    rollup — every shuffle is digest- or doc-granularity and the shingle
    TEXT never moves (md5 keys only). The deduped frame feeds the
    first-owner aggregation and the join-back -> localCheckpoint once."""
    ds = (
        documents.select(
            F.col("doc_id").alias("doc"), F.explode(word_shingles(F.col("text"))).alias("s")
        )
        .select("doc", F.md5("s").alias("sh"))
        .distinct()
        .localCheckpoint()
    )
    first_owner = ds.groupBy("sh").agg(F.min("doc").alias("first_doc"))
    return (
        ds.join(first_owner, "sh")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("doc") == F.col("first_doc")).cast("bigint")).alias("n_novel"),
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias("novelty"),
        )
    )


def dedup_keep_best(documents: DataFrame) -> DataFrame:
    """Canonical near-dup dedup OUTPUT: connected components over the
    MinHash pair graph, then keep exactly ONE document per cluster — the
    best by (quality_score DESC, n_chars DESC, md5(text) ASC, key ASC), a
    total order both engines share (the float score is computed from
    identical literals in identical op order; ties fall through to exact
    integers/strings). This is the selection step every training-data
    pipeline runs after clustering: dedup_clusters says WHO is a dup,
    this says WHICH copy survives.

    Returns (cluster_id, doc_id, n_members, quality_score) — one row per
    cluster. Scale shape: label propagation is digest/key-granularity
    (duplicate_clusters), the argmax is ONE window over clusters whose
    per-cluster cardinality is near-dup-cluster-sized (tiny), and text
    never moves — md5(text) is projected before the shuffle."""
    from pyspark.sql.window import Window

    from .text import quality_struct

    pairs = minhash_lsh_pairs(documents)
    clusters = duplicate_clusters(pairs, documents=documents)
    scored = documents.select(
        F.col("doc_id").alias("key"),
        quality_struct(F.col("text"))["quality_score"].alias("quality_score"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.md5("text").alias("tie_md5"),
    )
    ranked = clusters.join(scored, "key").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("quality_score").desc(),
                F.col("n_chars").desc(),
                F.col("tie_md5").asc(),
                F.col("key").asc(),
            )
        ),
    )
    members = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        ranked.where(F.col("rn") == 1)
        .join(members, "cluster_id")
        .select(
            "cluster_id",
            F.col("key").alias("doc_id"),
            "n_members",
            "quality_score",
        )
    )


def duplicate_clusters_star(pairs: DataFrame, documents: DataFrame | None = None) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al.) — the industrial-scale CC algorithm beside
    duplicate_clusters' min-label propagation: converges in O(log^2 n)
    rounds on ANY topology (min-label needs diameter rounds — a chain
    graph kills it), and every round's state is just the edge list.

    large-star: for each node u, every strictly-larger neighbor points to
    u's current minimum (min of u and its neighborhood); small-star: every
    smaller-or-equal neighbor (except the min itself) points to the
    minimum. Both are one groupBy + one re-expansion per round; edges
    stay (node, parent) pairs, text never appears. Convergence = the
    small-star pass changes nothing. Same output contract as
    duplicate_clusters: (key, cluster_id = component minimum), singletons
    included — gated against the SAME recursive-closure oracle.

    Keys are compared by their natural ordering (doc ids / md5 digests
    both order consistently in Spark and DuckDB)."""
    edges = pairs.select(F.col("key_a").alias("u"), F.col("key_b").alias("v"))
    # undirected symmetric closure, self-loops dropped
    e = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def large_star(ed: DataFrame) -> DataFrame:
        # the operation is defined on the UNDIRECTED neighborhood — losing
        # symmetry deadlocks chain graphs (both passes then see only
        # down-edges and make no progress)
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        # per-node minimum via join-back, NOT collect_set: a component
        # minimum's neighborhood is the whole component at convergence —
        # an array would concentrate it in one task; the join keeps it an
        # (edge x 1) co-partitioned stream
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # orient every edge high -> low, then attach each node's
        # smaller-or-equal neighborhood (plus itself) to the minimum
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    cur = e
    for _ in range(20):
        after_large = large_star(cur).localCheckpoint()
        after_small = small_star(after_large).localCheckpoint()
        # fixpoint: the round produced the same (u, v) edge set
        if (
            after_small.exceptAll(cur).isEmpty()
            and cur.exceptAll(after_small).isEmpty()
        ):
            cur = after_small
            break
        cur = after_small
    else:
        raise RuntimeError(
            "duplicate_clusters_star did not converge within 20 rounds"
        )
    labels = cur.select(F.col("u").alias("key"), F.col("v").alias("cluster_id"))
    # at the fixpoint every edge points directly at its component minimum
    labels = labels.groupBy("key").agg(F.min("cluster_id").alias("cluster_id"))
    roots = labels.select(F.col("cluster_id").alias("key")).distinct().select(
        "key", F.col("key").alias("cluster_id")
    )
    out = labels.union(roots)
    if documents is not None:
        nodes = documents.select(F.col("doc_id").alias("key"))
        singles = (
            nodes.join(out.select("key"), "key", "left_anti")
            .select("key", F.col("key").alias("cluster_id"))
        )
        out = out.union(singles)
    return out.groupBy("key").agg(F.min("cluster_id").alias("cluster_id"))


def dedup_method_agreement(documents: DataFrame) -> DataFrame:
    """Dedup-method QA monitor: compare the PAIR SETS produced by MinHash
    LSH (Jaccard-verified) and banded 64-bit SimHash — the check a
    pipeline runs before switching near-dup detectors. One row:
    (n_minhash, n_simhash, n_both, n_minhash_only, n_simhash_only,
    jaccard_agreement) with the agreement ratio a single division of
    exact BIGINTs.

    Scale shape: both pair streams are the banded keys-only joins their
    operators already use; the comparison is a full-outer join on the
    ordered (key_a, key_b) pair key — pair-set-sized, far below corpus
    size — then one global rollup."""
    mh = minhash_lsh_pairs(documents).select("key_a", "key_b")
    sh = simhash_neardup_pairs(documents, max_hamming=3, n_bits=64).select("key_a", "key_b")
    j = (
        mh.select("key_a", "key_b", F.lit(1).alias("in_mh"))
        .join(
            sh.select("key_a", "key_b", F.lit(1).alias("in_sh")),
            ["key_a", "key_b"],
            "full_outer",
        )
    )
    return j.agg(
        F.sum(F.coalesce("in_mh", F.lit(0))).alias("n_minhash"),
        F.sum(F.coalesce("in_sh", F.lit(0))).alias("n_simhash"),
        F.sum((F.col("in_mh").isNotNull() & F.col("in_sh").isNotNull()).cast("bigint")).alias("n_both"),
        F.sum((F.col("in_mh").isNotNull() & F.col("in_sh").isNull()).cast("bigint")).alias("n_minhash_only"),
        F.sum((F.col("in_mh").isNull() & F.col("in_sh").isNotNull()).cast("bigint")).alias("n_simhash_only"),
    ).select(
        "n_minhash",
        "n_simhash",
        "n_both",
        "n_minhash_only",
        "n_simhash_only",
        (
            F.col("n_both").cast("double")
            / (F.col("n_minhash") + F.col("n_simhash") - F.col("n_both")).cast("double")
        ).alias("jaccard_agreement"),
    )
