"""Corpus/term-level analytics for training-data pipelines.

Inverted index (postings lists), TF-IDF-style top-k salient terms, KMV
distinct-count sketches, bigram PMI ranking and token-rarity scoring —
the term-statistics layer a 100-TB text pipeline runs between ingest and
filtering. All outputs are hash-gateable: counts stay exact BIGINT end to
end and every float is produced by a fixed, parenthesized sequence of
single IEEE-754 operations on exactly-representable integers (each
multiply/divide rounds once, identically in Spark and DuckDB — the
determinism rules at the top of oracle.py).

Tokenization matches operators/text.py: `split(trim(text), r'\\s+')`.

Scale shapes (100-TB audit):
* every per-term aggregate is a map-side-partial groupBy on the term key;
  the vocabulary (distinct terms) is orders of magnitude smaller than the
  corpus, so the df/unigram side of each join is broadcast;
* the only corpus-sized shuffles are the unavoidable explode->count ones,
  each shuffling (key-or-term, count) pairs — never document text;
* inverted-index postings are the one per-term unbounded output; df_cap
  routes stopword-class terms around the collect (df-only row, NULL
  postings) so no single reducer materializes a billion-element list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import md5_prefix_int
from ..plans.fanout import fan_out

# 32-bit md5-prefix hash space; KMV estimates distincts as (k-1) * M / h_k
KMV_M = float(2**32)
KMV_K = 16
TFIDF_K = 3  # terms per document of tfidf_topk
PMI_TOP = 20  # bigrams bigram_pmi returns
HEAVY_HITTERS_K = 20  # tokens countmin_heavy_hitters reads back
INVERTED_INDEX_DF_CAP = 300  # doc_freq cap of the inverted_index_capped query


def _words() -> Column:
    return F.split(F.trim(F.col("text")), r"\s+")


def doc_term_pairs(documents: DataFrame, distinct: bool = False) -> DataFrame:
    """(key, term) token occurrences; with distinct=True, per-document
    distinct terms (deduped BEFORE the explode, so the shuffle that
    follows never carries within-document duplicates)."""
    documents = fan_out(documents)  # tokenize/explode in parallel on narrow scans
    words = _words()
    if distinct:
        words = F.array_distinct(words)
    return documents.select(F.col("doc_id").alias("key"), F.explode(words).alias("term"))


def inverted_index(documents: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Term -> sorted postings list: (term, doc_freq, postings) where
    postings is the comma-joined ascending doc-id list.

    Scale shape: one shuffle keyed on term. Postings are the unbounded
    part — a stopword's list is the whole corpus. With df_cap set, a
    first count-only pass (map-side partial, cheap) finds the high-df
    terms and the collect runs only for terms at or under the cap;
    hot terms still report exact doc_freq with NULL postings, so no
    reducer ever builds a corpus-sized array. The gate runs uncapped at
    fixture scale and a capped pytest pins the routing."""
    pairs = doc_term_pairs(documents, distinct=True)
    if df_cap is None:
        return pairs.groupBy("term").agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("key")), lambda x: x.cast("string")), ","
            ).alias("postings"),
        )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    small = dfreq.where(F.col("doc_freq") <= df_cap)
    # no broadcast hint: "terms at or under the cap" is the vocabulary's
    # long TAIL — usually most of it — so the right join strategy depends
    # on the corpus; AQE picks broadcast at runtime when it actually fits
    posted = (
        pairs.join(small.select("term"), "term")
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("key")), lambda x: x.cast("string")), ","
            ).alias("postings")
        )
    )
    return dfreq.join(posted, "term", "left").select("term", "doc_freq", "postings")


def tfidf_topk(documents: DataFrame) -> DataFrame:
    """Top-TFIDF_K salient terms per document by tf x (N / df) relevance
    (reciprocal-df weighting — same ranking family as tf-idf but exactly
    reproducible: CAST(tf) * (CAST(N) / CAST(df)) is three IEEE ops on
    exact integers, bit-identical in any engine, where a log-based idf
    would inherit libm rounding differences). Ties break on term order.

    Scale shape: tf is a map-side-partial groupBy on (doc, term); df is
    vocabulary-sized and broadcast into the join, as is the one-row corpus
    count; the final per-document top-k is a rank-filtered window that
    Spark executes with WindowGroupLimit pushdown (only k rows per
    document survive the shuffle read). The df table rides a HARD
    broadcast hint."""
    occ = doc_term_pairs(documents)
    tf = occ.groupBy("key", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df comes from its OWN distinct-pairs pass, deliberately NOT from
    # tf.groupBy(term): deriving df from tf re-executes the corpus-sized
    # (key, term) aggregate for the df branch (column pruning and the
    # broadcast hint make the subtrees non-canonical, so Spark never
    # ReusedExchange-s them) and pays two chained shuffles where this
    # shape pays one — measured 1M docs / corpus-sized vocab: 26.8s this
    # form, 31.2s the df-from-tf form
    dfreq = F.broadcast(
        doc_term_pairs(documents, distinct=True).groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    total = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("key").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_K)
        .select("key", "rank", "term", "tf", "df", "score")
    )


def kmv_distinct(documents: DataFrame, n_salts: int = 64) -> DataFrame:
    """Per-group distinct-term cardinality: exact count plus a K-Minimum-
    Values sketch estimate (k = KMV_K: (k-1) * M / h_k over a 32-bit
    md5-prefix hash space). The estimate is what survives at 100 TB; the
    gate pins both plus the kth-min hash so the sketch math itself is
    verified, not just eyeballed.

    Scale shape — MERGEABLE, never ranked: a per-group window row_number
    would sort a group's entire distinct-term set in one task (a web-scale
    source has a web-scale vocabulary — skew bomb). Instead the k-min is
    computed the way real sketches merge: salt each hash into n_salts
    sub-buckets, take each sub-bucket's local k smallest (bounded
    sort+slice per agg group), then merge the <= n_salts*k survivors per
    group — correct because any globally k-smallest value is k-smallest in
    its own sub-bucket. Both aggregation levels are map-side partial;
    no task ever holds more than the larger of a sub-bucket and
    n_salts*k values.

    Groups with fewer than k distinct terms report NULL sketch fields
    (the estimator is undefined; the exact count is the answer there).
    (k-1) * M is a product of exactly-representable doubles with a short
    significand — no rounding before the single division."""
    k = KMV_K
    pairs = (
        documents.select(F.col("source").alias("grp"), F.explode(_words()).alias("term"))
        .distinct()
        .select("grp", md5_prefix_int("term").alias("h"))
    )
    local = (
        pairs.withColumn("salt", F.pmod(F.col("h"), F.lit(n_salts)))
        .groupBy("grp", "salt")
        .agg(
            F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("mins"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    merged = local.groupBy("grp").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("mins"))), 1, k).alias("mins"),
        F.sum("cnt").alias("n_exact"),
    )
    kth = F.when(F.size("mins") >= k, F.element_at("mins", k))
    return merged.select(
        "grp",
        "n_exact",
        kth.alias("kth_min"),
        (F.lit(float(k - 1) * KMV_M) / kth.cast("double")).alias("kmv_estimate"),
    )


# HyperLogLog layout: p index bits over a 32-bit md5-prefix hash, the
# remaining HLL_REM_BITS carry the rank (leading-zero count + 1).
HLL_P = 10
HLL_M = 1 << HLL_P
HLL_REM_BITS = 32 - HLL_P
# alpha_m * m^2 * 2^REM_BITS, folded to ONE double literal shared with the
# oracle — the estimate is then a single IEEE division by the exact
# integer register sum (no cross-engine multiply chain to keep in order).
HLL_NUMERATOR = (0.7213 / (1.0 + 1.079 / HLL_M)) * float(HLL_M * HLL_M * (1 << HLL_REM_BITS))


def hll_distinct(documents: DataFrame) -> DataFrame:
    """Per-group distinct-term cardinality via a HyperLogLog sketch
    (Flajolet et al. 2007), alongside the exact count so the gate verifies
    the sketch math itself. Completes the sketch family (Bloom filter,
    Count-Min, KMV): HLL is the mergeable cardinality sketch every
    production pipeline actually ships.

    Deterministic cross-engine construction (no libm anywhere):
    h = 32-bit md5-prefix hash; register index = top HLL_P bits; rank =
    leading zeros of the remaining HLL_REM_BITS + 1, computed as
    (REM_BITS+1) - length(bin(rem)) — bin() prints without leading zeros
    in both Spark and DuckDB, so its length IS floor(log2)+1 with zero
    transcendentals. The harmonic sum 2^-M[j] is kept EXACT by scaling to
    integers: reg_sum = sum(2^(REM_BITS - M[j])) over all m registers
    (empty registers contribute 2^REM_BITS; max total m * 2^REM_BITS =
    2^32 — BIGINT-exact). The estimate is one double division of the
    shared HLL_NUMERATOR literal by reg_sum — a single IEEE rounding,
    identical in both engines. The small-range linear-counting correction
    (m * ln(m/V)) needs libm ln and is deliberately left to callers;
    n_empty_registers in the output is exactly the V it needs.

    Scale shape — MERGEABLE, two map-side-partial aggregations and
    nothing else: (grp, register) max-rank, then per-grp sum over at most
    m register rows. No windows, no collects; register state per group is
    a fixed 2^HLL_P rows regardless of corpus size."""
    pairs = (
        documents.select(F.col("source").alias("grp"), F.explode(_words()).alias("term"))
        .distinct()
        .select("grp", md5_prefix_int("term").alias("h"))
    )
    rem_mod = 1 << HLL_REM_BITS
    ranks = pairs.select(
        "grp",
        F.expr(f"h div {rem_mod}").alias("idx"),
        F.pmod("h", F.lit(rem_mod)).alias("rem"),
    ).select(
        "grp",
        "idx",
        # rem == 0 is capped at HLL_REM_BITS (not REM_BITS+1): the uncapped
        # rank would make the register weight shiftleft(1, -1), which Spark
        # wraps mod 64 (adds -2^63) while DuckDB raises — divergent engines
        # at production vocabulary sizes (P(rem==0) ~ 2^-22 per pair). The
        # harmonic-sum error of the cap is below the sketch's noise floor.
        F.when(F.col("rem") == 0, F.lit(HLL_REM_BITS))
        .otherwise(F.lit(HLL_REM_BITS + 1) - F.length(F.bin("rem")))
        .alias("rnk"),
    )
    regs = ranks.groupBy("grp", "idx").agg(
        F.max("rnk").alias("rmax"), F.count(F.lit(1)).alias("cnt")
    )
    empty_weight = 1 << HLL_REM_BITS
    agg = regs.groupBy("grp").agg(
        F.sum("cnt").alias("n_exact"),
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_REM_BITS} - rmax)")).alias("occ_sum"),
    )
    reg_sum = F.col("occ_sum") + (F.lit(HLL_M) - F.col("n_registers")) * F.lit(empty_weight)
    return agg.select(
        "grp",
        "n_exact",
        (F.lit(HLL_M) - F.col("n_registers")).alias("n_empty_registers"),
        reg_sum.alias("reg_sum"),
        (F.lit(HLL_NUMERATOR) / reg_sum.cast("double")).alias("hll_estimate"),
    )


def bigram_pmi(documents: DataFrame) -> DataFrame:
    """Global bigram collocation ranking by the PMI odds ratio
    c_ab * N / (c_a * c_b) (monotone in PMI = log of it; the log itself is
    libm-dependent, the ratio is two exact-integer products and one
    division — each a single deterministic IEEE rounding). Returns the
    PMI_TOP bigrams by ratio, ties on the bigram string.

    Scale shape: bigram and unigram counts are map-side-partial groupBys;
    the unigram table is vocabulary-sized and broadcast twice (left and
    right word); the corpus token total is a one-row broadcast; the final
    top-N is TakeOrdered (per-partition heaps + driver merge of N), never
    a full sort."""
    from .text import _word_ngrams_col

    grams = documents.select(F.explode(_word_ngrams_col(F.col("text"), 2)).alias("gram"))
    c_ab = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c_ab"))
    # the unigram table feeds THREE consumers (left join, right join, the
    # corpus total) — materialize the vocabulary-sized counts so the
    # corpus-sized unigram explode runs once, not three times (r4 audit)
    uni = (
        documents.select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    total = uni.agg(F.sum("c").alias("n_tokens"))
    scored = (
        c_ab.withColumn("w1", F.substring_index("gram", " ", 1))
        .withColumn("w2", F.substring_index("gram", " ", -1))
        .join(F.broadcast(uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b"))), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "pmi_ratio",
            (F.col("c_ab").cast("double") * F.col("n_tokens").cast("double"))
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
        )
    )
    return (
        scored.select("gram", "c_ab", "c_a", "c_b", "n_tokens", "pmi_ratio")
        .orderBy(F.col("pmi_ratio").desc(), "gram")
        .limit(PMI_TOP)
    )


def token_rarity(documents: DataFrame) -> DataFrame:
    """Per-document corpus-frequency profile: token count, the exact
    BIGINT sum of each token's corpus frequency, and their ratio (mean
    corpus frequency — low means the document is built from rare tokens,
    a standard rarity/quality signal). Cross-row sums stay integer-exact;
    the single final division is the only float op.

    Scale shape: unigram counts are vocabulary-sized and broadcast into
    the exploded fact side under a hard hint; the per-document rollup is
    one map-side-partial shuffle on the document key."""
    occ = doc_term_pairs(documents)
    uni = F.broadcast(occ.groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    agg = occ.join(uni, "term").groupBy("key").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("c").alias("freq_sum")
    )
    return agg.select(
        "key",
        "n_tokens",
        "freq_sum",
        (F.col("freq_sum").cast("double") / F.col("n_tokens").cast("double")).alias(
            "mean_token_freq"
        ),
    )


# ---------------------------------------------------------------------------
# cross-document repeated-span analytics (substring-dedup primitive)
# ---------------------------------------------------------------------------
#
# The span-level counterpart of document-level dedup: find word n-grams that
# recur across documents (training-data memorization / boilerplate audit —
# the primitive behind exact-substring dedup a la Lee et al., "Deduplicating
# Training Data Makes Language Models Better", public method). Both
# operators avoid COUNT(DISTINCT ...) expansion: the (doc, gram) level is
# aggregated first, so the per-gram distinct-document count is a plain
# COUNT(*) over one-row-per-document keys.


def _doc_gram_counts(documents: DataFrame, width: int, hash_grams: bool = False) -> DataFrame:
    """(key, gram, n_pos): occurrence count of every width-word gram per
    document. Docs shorter than `width` words contribute nothing (and are
    absent from downstream outputs — documented contract). One shuffle on
    (key, gram) with map-side partial aggregation.

    hash_grams=True replaces the gram text with its md5 digest BEFORE the
    first shuffle — a width-8 gram is ~50+ bytes vs the fixed 32-char
    digest, so every downstream shuffle/join key shrinks (the exact_dedup
    digest-key precedent). Only for callers that never output gram text."""
    from .text import exploded_word_ngrams

    documents = fan_out(documents)  # gram explode is the CPU wall on narrow scans

    # struct-explode + codegen concat (see exploded_word_ngrams): the gram
    # string is assembled after the explode, not in an interpreted lambda
    pairs = exploded_word_ngrams(documents, width, out_col="_g")
    gram = F.md5(F.col("_g")) if hash_grams else F.col("_g")
    return (
        pairs.select("key", gram.alias("gram"))
        .groupBy("key", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pos"))
    )


def repeated_grams(documents: DataFrame, width: int = 8) -> DataFrame:
    """(gram, n_docs, n_occ) for width-word grams appearing in >= 2
    DISTINCT documents — the corpus boilerplate/memorization report.

    Scale shape: two map-side-partial shuffles ((key, gram) then gram);
    n_docs is a COUNT(*) over the pre-aggregated per-document rows, so no
    distinct-aggregate expand ever touches the corpus-sized gram stream.
    The >= 2 filter bounds the output to actually-repeated grams."""
    dg = _doc_gram_counts(documents, width)
    return (
        dg.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_pos").cast("bigint").alias("n_occ"),
        )
        .where(F.col("n_docs") >= F.lit(2))
    )


def duplicated_span_stats(documents: DataFrame, width: int = 8) -> DataFrame:
    """Per-document duplicated-span statistics: (key, n_grams,
    n_dup_grams, n_dup_positions) where a gram is 'duplicated' if it occurs
    in >= 2 distinct documents. n_grams counts all gram positions,
    n_dup_grams the distinct duplicated grams, n_dup_positions the
    positions covered by them — the inputs to a span-level dedup or
    boilerplate-ratio filter. Docs shorter than `width` words are absent.

    Scale shape: the (doc, gram) level aggregates before anything joins;
    the per-gram n_docs table has ONE row per distinct gram, so the
    join-back is a plain shuffle equi-join on gram with no fan-out (hot
    boilerplate grams multiply only on their true per-document row count,
    and AQE's skew-join split applies — a window-over-gram formulation
    would pin each hot gram to a single task with no such backstop), and
    exact BIGINT counts flow end to end. Gram text never appears in the
    output, so grams shuffle as md5 digests (hash_grams).

    The (doc, gram) level feeds BOTH the per-gram count and the join, and
    its two consumers optimize to different subtrees (distinct-style vs
    counting aggregate), so exchange reuse can never kick in — without a
    materialization the corpus-sized explode + aggregate runs TWICE (the
    known fan-out-reuse trap). Materialized rows are (digest, digest,
    count) — far narrower than the text they derive from; columnar persist
    rather than localCheckpoint (r7) so a session executes the corpus
    explode once, not once per invocation."""
    from pyspark.storagelevel import StorageLevel

    dg = _doc_gram_counts(documents, width, hash_grams=True).persist(StorageLevel.MEMORY_AND_DISK)
    gd = dg.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    dup = F.col("n_docs") >= F.lit(2)
    return (
        dg.join(gd, "gram")
        .groupBy("key")
        .agg(
            F.sum("n_pos").cast("bigint").alias("n_grams"),
            F.sum(F.when(dup, F.lit(1)).otherwise(F.lit(0))).cast("bigint").alias("n_dup_grams"),
            F.sum(F.when(dup, F.col("n_pos")).otherwise(F.lit(0))).cast("bigint").alias("n_dup_positions"),
        )
    )


CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 1 << 12  # columns per row (power of two -> cheap mod)


def _cm_col(term: Column, row: int) -> Column:
    """Column index of `term` in Count-Min row `row`: 32-bit md5-prefix
    hash of the salted term, mod the row width — one md5 per (term, row),
    identical arithmetic in the oracle."""
    salted = F.concat(term, F.lit(f"-cm{row}"))
    return md5_prefix_int(salted) % F.lit(CM_WIDTH)


def countmin_heavy_hitters(documents: DataFrame) -> DataFrame:
    """Count-Min sketch demonstration over the token stream: build the
    d x w counter table DISTRIBUTED (groupBy (row, col) — the sketch is
    the aggregation state, nothing collects), then read back the
    HEAVY_HITTERS_K most frequent tokens' estimates next to their exact counts. CM guarantees
    estimate >= exact (one-sided error) and estimate <= exact + eps*N with
    eps = e/w — the pytest pins the one-sided property row by row.

    Unlike random-seeded sketches, every counter is a pure function of the
    data (md5-salted row hashes), so the whole sketch read-out hash-gates
    cross-engine. Scale shape: the token stream shuffles once per sketch
    row as (row, col) pairs — d tiny integers per token, never the token
    text; the probe join broadcasts the k-row top-token table."""
    terms = documents.select(F.explode(_words()).alias("term"))
    # exact counts once; top-k probes with deterministic (count desc, term) order
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.orderBy(F.col("exact_count").desc(), F.col("term")).limit(HEAVY_HITTERS_K)

    cells = terms.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("row"), _cm_col(F.col("term"), r).alias("col"))
                    for r in range(CM_DEPTH)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.col")
    sketch = cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))

    probe_cells = probes.select(
        "term",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("row"), _cm_col(F.col("term"), r).alias("col"))
                    for r in range(CM_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("term", "exact_count", "c.row", "c.col")
    return (
        sketch.join(F.broadcast(probe_cells), ["row", "col"])
        .groupBy("term")
        .agg(
            F.min("exact_count").alias("exact_count"),
            F.min("cnt").alias("cm_estimate"),
        )
    )


def bpe_pair_counts(documents: DataFrame) -> DataFrame:
    """Top 50 adjacent character-pair frequencies over whitespace tokens — the
    statistic a BPE tokenizer trainer computes to pick its next merge
    (top pair = first merge rule). Counts respect within-token
    multiplicity ('aaa' contributes 'aa' twice).

    Scale shape: the corpus token stream never reaches the pair explode —
    tokens aggregate to the VOCAB first (one map-side-partial shuffle),
    then pairs explode over |vocab| rows weighted by token count and roll
    up vocab-sized. The pair lambda references only the materialized
    vocab attribute, so the per-element re-inline trap
    (_word_ngrams_col's split lesson) cannot fire. Top-k is a
    TakeOrdered with the (count DESC, pair ASC) deterministic tiebreak.
    The oracle recomputes via the independent direct corpus-level unnest."""
    toks = documents.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).where(F.length("tok") >= 2)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(50)
    )


def lang_vocab_overlap(documents: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between languages: (lang_a, lang_b,
    vocab_a, vocab_b, n_common, jaccard) for lang_a < lang_b — the
    corpus-composition diagnostic for contamination between splits /
    mixture sources.

    Scale shape: the corpus collapses to the DISTINCT (lang, token) set
    first (one shuffle with map-side partials) and everything after runs
    at vocabulary scale. The intersection self-join keys on token, where
    each key carries at most #langs rows — no skew possible by
    construction. The vocab frame feeds three consumers (sizes + both join
    sides), so it is localCheckpoint()ed once (fan-out-reuse rule: the
    corpus explode + distinct must not re-run per consumer). Jaccard is
    exact integers with ONE single-rounded double division."""
    vocab = (
        documents.select(
            "lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        .distinct()
        .localCheckpoint()
    )
    sizes = vocab.groupBy("lang").agg(F.count(F.lit(1)).alias("n_vocab"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.lang") < F.col("b.lang")))
        .groupBy(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n_vocab").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n_vocab").alias("vocab_b"))
    union_sz = F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            (F.col("n_common").cast("double") / union_sz.cast("double")).alias("jaccard"),
        )
    )


# BM25 per-(doc, term) score — ONE formulation string parsed by both Spark
# (F.expr) and the DuckDB oracle, so every intermediate is the same
# single-rounded IEEE double in the same order. k1 = 1.2, b = 0.75 are the
# standard constants, fixed here so the literals stay strtod-shared. The
# term weight is the Robertson-Sparck-Jones ODDS RATIO (N - df + 0.5) /
# (df + 0.5) — the exp of the classic BM25 idf. NOTE: unlike a per-term
# monotone substitution (tfidf_topk's N/df), replacing log-idf by its exp
# inside a SUM over query terms is a DIFFERENT (log-free) scoring function,
# not a reordering of textbook BM25 — that is this operator's documented
# contract (any log is libm-divergent and could never hash-gate).
BM25_SCORE_SQL = (
    "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
    " * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))"
    " / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)"
    " * (CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * dl) / avgdl)))"
)

BM25_QUERY = ("spark", "join", "window")
BM25_K = 20


def bm25_topk(documents: DataFrame) -> DataFrame:
    """Top-BM25_K documents for the fixed BM25_QUERY by log-free BM25 (see
    BM25_SCORE_SQL): per-(doc, query-term) tf with document length carried
    THROUGH the explode (the tokenizer runs once per document, chunk
    precedent), query-term filter applied before any shuffle, score =
    fixed-order sum of the per-term partials (a float SUM over a groupBy
    is reduction-order dependent — the query is a FIXED small list, so
    each term becomes a conditional-aggregate column and the adds happen
    in one deterministic left-assoc order). Ties break to the smaller key.

    Scale shape: the token stream is filtered to query terms BEFORE the
    (doc, term) aggregation, so the shuffled volume is O(matches), not
    O(corpus tokens); df and the corpus stats are broadcast one-row /
    |query|-row relations; the global top-k is a WindowGroupLimit (rank
    pushdown), never a full sort."""
    qs = list(BM25_QUERY)
    documents = fan_out(documents)  # tokenizer (both passes) parallel on narrow scans
    w = documents.select(F.col("doc_id").alias("key"), _words().alias("words"))
    # filter to query terms INSIDE the array, before the explode: the
    # generator then emits only matches instead of materializing every
    # token as a row and filtering after (A/B at the 50k-doc scale:
    # 1.45s -> 0.84s for the tf subchain). dl is the full token count,
    # taken before the filter.
    qarr = F.array(*[F.lit(q) for q in qs])
    toks = w.select(
        "key",
        F.size("words").cast("double").alias("dl"),
        F.explode(F.filter("words", lambda x: F.array_contains(qarr, x))).alias("term"),
    )
    # tf feeds TWO consumers (the df derivation and the score join) — the
    # fan-out-reuse audit: without materialization the corpus explode +
    # filter + aggregate run once per consumer (plan-audited: 3 FileScans
    # -> 2). The frame is tiny (<= |docs| x |query| rows); columnar persist
    # rather than localCheckpoint (r7): same single-materialization
    # guarantee, and the cached plan is shared instead of re-executing the
    # corpus tokenize pass on every invocation in a session.
    from pyspark.storagelevel import StorageLevel

    tf = (
        toks.groupBy("key", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # stats is ONE row but its execution is a SECOND full corpus tokenize
    # (sum of token counts) — persist so a session pays it once
    stats = (
        documents.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_words())).alias("total_tokens"),
        )
        .select(
            "n_docs",
            (F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("key", "term", F.expr(BM25_SCORE_SQL).alias("s"))
    )
    parts = [
        F.max(F.when(F.col("term") == F.lit(t), F.col("s"))).alias(f"s_{i}")
        for i, t in enumerate(qs)
    ]
    pivoted = scored.groupBy("key").agg(*parts)
    score = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, len(qs)):
        score = score + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    ranked = pivoted.select("key", score.alias("score")).select(
        "key",
        "score",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("score").desc(), F.col("key")))
        .alias("rnk"),
    )
    return ranked.where(F.col("rnk") <= BM25_K).select(F.col("key").alias("doc_id"), "score", "rnk")


def hll_union(documents: DataFrame) -> DataFrame:
    """SKETCH ALGEBRA as a first-class operator: per-group HLL register
    states MERGED into the union-cardinality estimate — max(rank) per
    register across groups, the property that makes HLL the sketch
    production pipelines ship (estimate the union without re-reading the
    groups). One row: (n_groups, n_registers, reg_sum, hll_estimate).

    The gate proves the merge cross-engine: Spark computes per-group
    sketches and MERGES them; the oracle computes the union sketch from
    scratch over the global distinct-term set — equal registers mean the
    merge is exactly lossless, not approximately so.

    Scale shape: the per-(grp, idx) rmax state is what a production job
    would persist per partition/day; the merge is a second map-side
    partial max over at most m rows per group."""
    pairs = (
        documents.select(F.col("source").alias("grp"), F.explode(_words()).alias("term"))
        .distinct()
        .select("grp", md5_prefix_int("term").alias("h"))
    )
    rem_mod = 1 << HLL_REM_BITS
    ranks = pairs.select(
        "grp",
        F.expr(f"h div {rem_mod}").alias("idx"),
        F.pmod("h", F.lit(rem_mod)).alias("rem"),
    ).select(
        "grp",
        "idx",
        F.when(F.col("rem") == 0, F.lit(HLL_REM_BITS))
        .otherwise(F.lit(HLL_REM_BITS + 1) - F.length(F.bin("rem")))
        .alias("rnk"),
    )
    # the per-group register state (what a real pipeline stores) ...
    per_group = ranks.groupBy("grp", "idx").agg(F.max("rnk").alias("rmax"))
    # ... merged across groups: max rank per register
    merged = per_group.groupBy("idx").agg(F.max("rmax").alias("rmax"))
    # NULL-group semantics shared with the oracle's COUNT(DISTINCT ...),
    # which excludes NULL — distinct().count() would count a NULL source
    # as a group (r5 advice; latent only, synthetic data is non-null)
    n_groups = documents.where(F.col("source").isNotNull()).select("source").distinct().count()
    agg = merged.agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_REM_BITS} - rmax)")).alias("occ_sum"),
    )
    empty_weight = 1 << HLL_REM_BITS
    reg_sum = F.col("occ_sum") + (F.lit(HLL_M) - F.col("n_registers")) * F.lit(empty_weight)
    return agg.select(
        F.lit(n_groups).cast("bigint").alias("n_groups"),
        F.col("n_registers"),
        reg_sum.alias("reg_sum"),
        (F.lit(HLL_NUMERATOR) / reg_sum.cast("double")).alias("hll_estimate"),
    )


def charlm_surprisal(documents: DataFrame) -> DataFrame:
    """LOG-FREE character-bigram language-model scoring — the perplexity
    proxy quality filters use, made hash-gateable: per-bigram surprisal is
    measured in WHOLE BITS via integer bit lengths,

        bits(b) = bitlen(C(first_char)) - bitlen(C(bigram))

    (bitlen n = length(bin(n)), exact integers in both engines — the HLL
    rank trick), where C are corpus occurrence counts. A document's score
    is the exact BIGINT sum of its bigrams' bits; high surprisal = text
    unlike the corpus (the filtering signal). No log/exp anywhere, so the
    gate compares exact integers.

    Scale shape: TWO narrow passes over the bigram stream and ZERO
    corpus-sized shuffles or materializations. Pass 1 map-side-combines
    the explode straight down to the charset^2-sized corpus bigram table
    (each task emits at most |charset|^2 partial rows). The bits table is
    derived from it (tiny) and broadcast; pass 2 re-runs the explode,
    hash-joins each bigram against the broadcast bits map and partially
    aggregates per document before the only (doc-granularity) exchange.
    An earlier (doc, bigram)-level pre-aggregation + localCheckpoint
    between the passes was measured strictly worse at every scale tried:
    it shuffles and writes a corpus-times-distinct-bigrams-per-doc-sized
    frame to save re-running a cheap codegen explode (split + concat),
    the wrong side of the materialize-vs-recompute rule."""
    # chars split once per ROW; bigram i = (chars[i], chars[i+1]) via
    # arrays_zip of two shifted slices, exploded AS THE STRUCT — the
    # obvious transform(concat) into a "ab" string costs an interpreted
    # higher-order lambda per element (HOFs never enter whole-stage
    # codegen; A/B at the 50k-doc scale: 1.23s vs 0.98s per pass), and a
    # substr(text, i, 2)-inside-transform form re-seeks the string per
    # ELEMENT (O(len^2) per document, the lambda re-inline trap
    # _word_ngrams_col documents). Chars are single codepoints, so keying
    # on the (a, b) pair is exactly keying on the concatenated bigram.
    documents = fan_out(documents)
    n = F.length(F.col("text"))
    chars = F.split(F.col("text"), "")
    zipped = F.arrays_zip(
        F.slice(chars, 1, n - 1).alias("a"), F.slice(chars, 2, n - 1).alias("b")
    )
    bg_stream = documents.where(n >= 2).select(
        F.col("doc_id").alias("key"), F.explode(zipped).alias("s")
    ).select("key", F.col("s.a").alias("a"), F.col("s.b").alias("b"))
    # charset^2-sized; feeds BOTH corpus_pre and the bits join -> materialize
    # once (fan-out rule; the frame is tiny). Columnar persist rather than
    # localCheckpoint (r7): executing this frame IS the whole pass-1 corpus
    # bigram explode, so a session pays it once instead of per invocation.
    from pyspark.storagelevel import StorageLevel

    corpus_bg = (
        bg_stream.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cbg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    corpus_pre = corpus_bg.groupBy("a").agg(F.sum("cbg").alias("cpre"))
    bits = corpus_bg.join(corpus_pre, "a").select(
        "a", "b", (F.length(F.bin("cpre")) - F.length(F.bin("cbg"))).cast("bigint").alias("bits")
    )
    return (
        bg_stream.join(F.broadcast(bits), ["a", "b"])
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bits").alias("surprisal_bits"),
        )
        .select(F.col("key").alias("doc_id"), "n_bigrams", "surprisal_bits")
    )


def bpe_phrase_merge(documents: DataFrame) -> DataFrame:
    """ONE full BPE merge step at word granularity (phrase mining — the
    same algorithm as char-BPE with word symbols; bpe_pair_counts covers
    the char-level statistic): find the corpus-wide most frequent adjacent
    token pair (ties to the lexicographically smallest pair string), then
    apply it as a LEFT-TO-RIGHT NON-OVERLAPPING merge in every document —
    'a a a' merges positions (0,1) only, the sequential semantics every
    real BPE trainer implements.

    The overlap rule is resolved RELATIONALLY (no per-doc sequential
    scan), r7 shape: the best pair comes from a NARROW arrays_zip pass
    (no window, no token-stream materialization — the charlm
    struct-explode idiom), and the merge application is ONE window chain
    over the token stream, entirely inside a single doc-keyed exchange:
    lead() flags merge sites; a site's 1-based index within its RUN of
    consecutive sites is rn_s - rn_s(run start) + 1, where run starts
    (s rising edges, via lag) are located with a running max — no
    (key, island) re-shuffle; exactly odd-indexed sites merge, and the
    token AFTER a merge start is dropped via lag(is_start). The
    per-document rollup reuses the window's hash(key) partitioning, so
    the whole application pass has ONE exchange and ZERO checkpoints
    (the r6 form paid three localCheckpoints plus site/tail joins for
    the same answer; A/B at the 50k-doc scale: 3.1s -> measured below).
    Output per document: (key, n_tokens_before, n_merges, merged_md5)
    where merged_md5 = md5 of the space-joined post-merge stream (merged
    pairs joined with '_'), so the gate verifies the exact token
    sequence, not just counts."""
    from pyspark.sql import Window

    documents = fan_out(documents)
    words = F.split(F.trim(F.col("text")), r"\s+")
    k = F.size(words) - F.lit(1)
    adj = F.arrays_zip(F.slice(words, 1, k).alias("w1"), F.slice(words, 2, k).alias("w2"))
    best = (
        documents.select(F.explode(adj).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        # tie-break on the SAME "w1 w2" pair string the r6 form ordered by
        .orderBy(F.col("cnt").desc(), F.concat_ws(" ", "w1", "w2"))
        .limit(1)
        .select("w1", "w2")
    )
    wk = Window.partitionBy("key").orderBy("pos")
    run = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks = documents.select(
        F.col("doc_id").alias("key"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "tok"),
    )
    marked = (
        toks.crossJoin(F.broadcast(best))
        .withColumn("nxt", F.lead("tok").over(wk))
        .withColumn("s", (F.col("tok") == F.col("w1")) & (F.col("nxt") == F.col("w2")))
        .withColumn("rn_s", F.sum(F.col("s").cast("int")).over(run))
        .withColumn("rise", F.col("s") & ~F.coalesce(F.lag("s").over(wk), F.lit(False)))
        .withColumn("run_first", F.max(F.when(F.col("rise"), F.col("rn_s"))).over(run))
        .withColumn(
            "is_start", F.col("s") & ((F.col("rn_s") - F.col("run_first")) % 2 == 0)
        )
        .withColumn("dropped", F.coalesce(F.lag("is_start").over(wk), F.lit(False)))
    )
    t = F.when(F.col("is_start"), F.concat_ws("_", "tok", "nxt")).otherwise(F.col("tok"))
    return (
        marked.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_before"),
            F.sum(F.col("is_start").cast("bigint")).alias("n_merges"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(~F.col("dropped"), F.struct("pos", t.alias("t")))
                            )
                        ),
                        lambda x: x["t"],
                    ),
                    " ",
                )
            ).alias("merged_md5"),
        )
        .select(
            F.col("key").alias("doc_id"),
            "n_tokens_before",
            "n_merges",
            "merged_md5",
        )
    )

def vocab_coverage(documents: DataFrame, vocab_size: int = 256) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-`vocab_size` corpus
    vocabulary (count DESC, term ASC — deterministic), then per document
    report total tokens, in-vocab tokens, OOV count and the coverage
    ratio (one division of exact BIGINTs). The stat every tokenizer
    migration checks before retraining.

    Scale shape: vocab = one term-keyed map-side-partial aggregation +
    TakeOrdered(vocab_size); the coverage pass is a broadcast LEFT join
    of the (doc, term, count) stream against the tiny vocab."""
    occ = (
        doc_term_pairs(documents)
        .groupBy("key", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # feeds the vocab build AND the coverage join
    )
    vocab = (
        occ.groupBy("term")
        .agg(F.sum("cnt").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("term"))
        .limit(vocab_size)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        occ.join(F.broadcast(vocab), "term", "left")
        .groupBy("key")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab"), F.col("cnt")).otherwise(F.lit(0))).alias("n_in_vocab"),
        )
        .select(
            F.col("key").alias("doc_id"),
            "n_tokens",
            "n_in_vocab",
            (F.col("n_tokens") - F.col("n_in_vocab")).alias("n_oov"),
            (F.col("n_in_vocab").cast("double") / F.col("n_tokens").cast("double")).alias("coverage"),
        )
    )
