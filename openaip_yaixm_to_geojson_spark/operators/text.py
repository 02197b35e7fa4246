"""Text analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace + BPE-ish subword estimate)
and document fingerprinting. All pure column expressions (regexp/length
arithmetic inside codegen) — identical SQL evaluates on the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import md5_prefix_int
from ..plans.fanout import fan_out

# The fixed shapes of the gated text queries, one home each (the oracle
# twins read them at call time).
QUERY_SAMPLE_FRACTION = 0.25  # sample, sample_complement, sampled_percentile_chars
P90_NUM, P90_DEN = 9, 10  # the p of the lang_p90_chars and sampled_p90_chars queries
REPETITION_N = 2  # word n-gram width of ngram_repetition / ngram_repetition_local
CONTAMINATION_N = 8  # word n-gram width of contamination / bloom_contamination
STRATIFIED_QUOTA = 40  # rows per language of stratified_sample
QUERY_CHUNK_SIZE, QUERY_CHUNK_STRIDE = 32, 24  # the chunk_documents query's window
PACK_CAPACITY, PACK_STREAMS = 512, 8  # pack_documents' window tokens and streams
WEIGHTED_RATE, WEIGHTED_LENGTH_CAP = 0.5, 2000  # weighted_sample's inclusion rule

# tiny stopword inventories; enough signal for a deterministic heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "une"],
    "es": ["el", "la", "de", "que", "los", "es", "una", "por"],
    "it": ["il", "la", "che", "di", "non", "per", "una", "sono"],
}


def _word_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of stopword occurrences for one language."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(_word_pattern(LANG_STOPWORDS[lang])), F.lit(0)))


def langid_col(text: Column) -> Column:
    """Predicted language = argmax of stopword hits; ties break by language
    code order (greatest(struct) tie-break mirrors the SQL oracle)."""
    scored = [
        F.struct(stopword_hits(text, lang).alias("hits"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_STOPWORDS, reverse=True)
    ]
    # greatest picks max hits; on equal hits the lexicographically LARGER
    # lang wins, matching SQL's greatest() over (hits, lang) structs
    return F.greatest(*scored)["lang"]


def quality_struct(text: Column) -> Column:
    """Quality heuristics: char/word counts, mean word length, punctuation
    and digit ratios, uppercase ratio, and a composite [0,1] score."""
    n_chars = F.length(text).cast("double")
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words).cast("double")
    mean_word_len = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[\.,;:!\?]"), F.lit(0))).cast("double")
    n_digit = F.size(F.regexp_extract_all(text, F.lit(r"[0-9]"), F.lit(0))).cast("double")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    score = (
        F.when((mean_word_len >= 3.0) & (mean_word_len <= 12.0), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(digit_ratio <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return F.struct(
        n_chars.cast("bigint").alias("n_chars"),
        n_words.cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        score.alias("quality_score"),
    )


def token_count_cols(text: Column) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish subword estimate).

    The subword estimate counts maximal runs of word chars, digits and
    punctuation separately and adds one token per 4 chars of long words —
    a deterministic stand-in for a real BPE vocab."""
    ws_tokens = F.size(F.split(F.trim(text), r"\s+"))
    pieces = F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"), F.lit(0)))
    return ws_tokens, pieces


def fingerprint_col(text: Column) -> Column:
    """Normalization fingerprint: md5 of lowercase text with whitespace
    collapsed — stable under reflow, byte-deterministic."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


ROLLING_BASE = 31
ROLLING_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def rolling_fingerprint_col(text: Column) -> Column:
    """Rabin-Karp-style rolling hash over words (the classic document
    fingerprint): h = fold(h * B + v(word)) mod M, with v(word) = the first
    8 hex digits of md5(word) as an integer.

    Word-level (not char-level) keeps the fold O(words) inside codegen;
    every step stays < 2^36 so ANSI-mode bigint arithmetic never overflows.
    The identical fold runs on the DuckDB oracle (left fold == list_reduce
    with the same seed handling)."""
    words = F.split(F.trim(text), r"\s+")
    # pre-mod the word values so the fold is identical whether the engine
    # seeds with 0 (Spark aggregate) or the first element (DuckDB
    # list_reduce): v may exceed M, v % M never does.
    vals = F.transform(
        words,
        lambda w: md5_prefix_int(w) % F.lit(ROLLING_MOD),
    )
    return F.aggregate(
        vals,
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * F.lit(ROLLING_BASE) + v) % F.lit(ROLLING_MOD),
    )


SAMPLE_BUCKETS = 1_000_000


def sample_hash_col(key: Column) -> Column:
    """Deterministic per-row sampling bucket in [0, 1e6): md5-derived, so
    the SAME rows are kept at any parallelism, on re-runs, and in the
    DuckDB oracle (Spark's df.sample is seed+partition dependent — useless
    for reproducible corpus construction)."""
    return md5_prefix_int(key.cast("string")) % F.lit(SAMPLE_BUCKETS)


def deterministic_sample(documents: DataFrame, fraction: float) -> DataFrame:
    """Keep rows whose md5 bucket falls under `fraction` — a reproducible,
    cluster-size-independent Bernoulli sample keyed on content identity."""
    threshold = int(round(fraction * SAMPLE_BUCKETS))
    return documents.where(sample_hash_col(F.col("doc_id")) < threshold)


def _word_ngrams_col(text: Column, n: int) -> Column:
    """Word n-grams as an array column: words joined by single spaces,
    gram i = words[i..i+n-1]. Guarded for short docs — Spark's
    sequence(1, 0) counts DOWN ([1, 0]), it is not empty — so docs with
    fewer than n words yield an empty array, not garbage grams.

    Formulated as arrays_zip over n shifted slices, with the lambda
    touching ONLY its own struct argument: any outer expression referenced
    inside a higher-order lambda re-inlines per ELEMENT (no subexpression
    elimination), so the earlier slice-inside-lambda form re-ran the split
    once per gram — O(words^2) per document. Here the split appears only
    in the zip INPUTS, which evaluate once per ROW (n slices ~ n split
    evals, amortized constant per gram): measured 3x faster on the sf0.1
    corpus with byte-identical output."""
    words = F.split(F.trim(text), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(words, i + 1, k).alias(f"w{i}") for i in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]))
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def exploded_word_ngrams(
    documents: DataFrame, n: int, distinct: bool = False, out_col: str = "gram"
) -> DataFrame:
    """(key, gram) rows — the explode-immediately twin of _word_ngrams_col
    for callers that never need the gram ARRAY: the zip STRUCTS are
    exploded and the gram string is assembled AFTER the explode in a
    plain codegen projection. _word_ngrams_col's transform(concat_ws)
    pays an interpreted higher-order lambda per element (HOFs never enter
    whole-stage codegen) — A/B at the 50k-doc scale, n=8: 1.04s vs 0.84s
    for the explode->md5->count subchain. distinct=True dedupes the
    STRUCT array per document, which equals deduping gram strings because
    tokens cannot contain the separator (split on \\s+)."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(words, i + 1, k).alias(f"w{i}") for i in range(n)])
    if distinct:
        zipped = F.array_distinct(zipped)
    stype = "array<struct<" + ",".join(f"w{i}:string" for i in range(n)) + ">>"
    guarded = F.when(k >= 1, zipped).otherwise(F.array().cast(stype))
    gram = F.concat_ws(" ", *[F.col(f"_s.w{i}") for i in range(n)])
    return documents.select(F.col("doc_id").alias("key"), F.explode(guarded).alias("_s")).select(
        "key", gram.alias(out_col)
    )


def ngram_repetition(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals: total / distinct
    word REPETITION_N-grams, the modal n-gram's count, and the duplicate /
    top-gram fractions quality filters threshold on.

    Scale shape: RELATIONAL (explode -> two map-side-partial groupBys keyed
    by doc), not per-row array self-scans — the array version is O(grams^2)
    per document and melts on long documents, this is O(grams log grams)
    and spillable. Fractions are a single division of two exact BIGINTs,
    bit-identical across engines. Documents shorter than REPETITION_N
    words have no grams and drop out (inner semantics, documented)."""
    grams = documents.select(
        F.col("doc_id").alias("key"),
        F.explode(_word_ngrams_col(F.col("text"), REPETITION_N)).alias("gram"),
    )
    per_gram = grams.groupBy("key", "gram").agg(F.count(F.lit(1)).alias("c"))
    agg = per_gram.groupBy("key").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    n_grams_d = F.col("n_grams").cast("double")
    return agg.select(
        "key",
        "n_grams",
        "n_distinct",
        "top_count",
        ((F.col("n_grams") - F.col("n_distinct")).cast("double") / n_grams_d).alias("dup_fraction"),
        (F.col("top_count").cast("double") / n_grams_d).alias("top_fraction"),
    )


def ngram_repetition_local(documents: DataFrame) -> DataFrame:
    """Shuffle-FREE twin of ngram_repetition: identical output, computed
    per row with a sorted-array fold instead of explode + groupBy.

    array_sort groups equal grams adjacently (O(g log g) per document,
    inside codegen), then one aggregate() fold counts distinct grams
    (run boundaries) and the modal gram's count (longest run). At corpus
    scale this is the winner: ngram_repetition shuffles every gram twice
    (grams ~ tokens, so the shuffle is corpus-sized); this variant touches
    the fact table once and shuffles NOTHING. The relational form remains
    for pathological single-document sizes — a row's gram array must fit
    a task, while explode + groupBy spills arbitrarily."""
    grams = _word_ngrams_col(F.col("text"), REPETITION_N)
    zero = F.lit(0).cast("bigint")
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("maxrun"),
        zero.alias("dist"),
        zero.alias("tot"),
    )

    def step(acc, g):
        same = acc["prev"].isNotNull() & (acc["prev"] == g)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            (acc["dist"] + F.when(same, zero).otherwise(F.lit(1).cast("bigint"))).alias("dist"),
            (acc["tot"] + 1).alias("tot"),
        )

    def finish(acc):
        # all six outputs computed inside the fold's finish lambda: the
        # array, the sort and the fold each appear exactly ONCE in the
        # plan, however many output fields are projected from the struct
        tot_d = acc["tot"].cast("double")
        return F.struct(
            acc["tot"].alias("n_grams"),
            acc["dist"].alias("n_distinct"),
            acc["maxrun"].alias("top_count"),
            ((acc["tot"] - acc["dist"]).cast("double") / tot_d).alias("dup_fraction"),
            (acc["maxrun"].cast("double") / tot_d).alias("top_fraction"),
        )

    # pre-filter on the CHEAP word count, never on a fold output: a filter
    # referencing _r gets pushed below the project and re-inlines the whole
    # fold into its condition (3 evaluations per row, measured); with the
    # independent predicate the sort+fold appears exactly once in the plan
    short = F.size(F.split(F.trim(F.col("text")), r"\s+")) >= REPETITION_N
    folded = documents.where(short).select(
        F.col("doc_id").alias("key"),
        F.aggregate(F.array_sort(grams), acc0, step, finish).alias("_r"),
    )
    return folded.select(
        "key",
        "_r.n_grams",
        "_r.n_distinct",
        "_r.top_count",
        "_r.dup_fraction",
        "_r.top_fraction",
    )


def contamination(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    CONTAMINATION_N-gram with an eval/benchmark set (the standard
    pre-training hygiene join). Returns (key, n_shared_grams) for contaminated documents only.

    Scale shape: grams are md5-hashed so only 32-char keys travel through
    the join; the benchmark side is distinct-deduped and broadcast (eval
    sets are tiny next to the corpus — thousands of docs vs billions); the
    per-document dedup (array_distinct) happens before the explode so the
    fact-side explode carries no within-doc duplicates."""
    def gram_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").alias("key"),
            F.explode(F.array_distinct(_word_ngrams_col(F.col("text"), CONTAMINATION_N))).alias("gram"),
        ).select("key", F.md5("gram").alias("gram_hash"))

    bench = gram_hashes(benchmark).select("gram_hash").distinct()
    return (
        gram_hashes(documents)
        .join(F.broadcast(bench), "gram_hash")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


BLOOM_BITS = 1 << 16  # m: filter width in bits (power of two -> cheap mod)
BLOOM_WORD_BITS = 32  # bits packed per BIGINT word; masks stay positive
BLOOM_K = 4  # probes per key (Kirsch-Mitzenmacher double hashing)


def _bloom_probe_frame(grams: DataFrame) -> DataFrame:
    """(.., gram_hash) -> one row per probe with (word_idx, mask).

    g1/g2 are the two 32-bit halves of md5(gram); probe i lands at
    (g1 + i*g2) mod m (Kirsch & Mitzenmacher 2006: two hashes simulate k).
    Masks use 32 bits per BIGINT word so shiftleft never reaches the sign
    bit — every mask is a positive BIGINT, identical in DuckDB."""
    g1 = F.conv(F.substring("gram_hash", 1, 8), 16, 10).cast("bigint")
    g2 = F.conv(F.substring("gram_hash", 9, 8), 16, 10).cast("bigint")
    # a literal-unrolled array, NOT transform(sequence(...), lambda): outer
    # expressions referenced inside a higher-order lambda re-inline per
    # element with no CSE, whereas plain projections get whole-stage-codegen
    # subexpression elimination for the repeated conv() terms
    probes = F.array(
        *[(g1 + F.lit(i).cast("bigint") * g2) % F.lit(BLOOM_BITS) for i in range(BLOOM_K)]
    )
    return grams.select("*", F.explode(probes).alias("p")).select(
        F.col("*"),
        (F.col("p") / F.lit(BLOOM_WORD_BITS)).cast("bigint").alias("word_idx"),
        # pyspark's F.shiftleft only takes a literal int shift — expr form
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))").alias("mask"),
    )


def bloom_contamination(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination via a Bloom filter — the scale path of
    `contamination` for when the benchmark gram set is too large to
    broadcast raw (a few hundred GB of eval grams fits in a 8 KiB bitmap
    here; production would size m up, the algebra is unchanged).

    The filter is BUILT distributed (groupBy word_idx + bit_or — never
    collected to the driver) and stays a <= m/32-row table that broadcasts
    into the probe join. Probes are exact integer arithmetic on md5 halves,
    so false positives are DETERMINISTIC and the whole operator is
    hash-gateable. Output: (key, n_grams, n_bloom_hits) for documents with
    at least one bloom-positive gram (superset of `contamination`'s exact
    answer by construction — a pytest pins the containment)."""

    def gram_hashes(df: DataFrame) -> DataFrame:
        df = fan_out(df)  # n-gram explode + md5 dominate on narrow scans
        return exploded_word_ngrams(df, CONTAMINATION_N, distinct=True).select(
            "key", F.md5("gram").alias("gram_hash")
        )

    n_words = BLOOM_BITS // BLOOM_WORD_BITS

    # BUILD (tiny side): distinct bench grams -> k probes -> bit_or words,
    # then scatter into ONE dense array row (map_from_entries + transform —
    # the "collect" is a 1-row DataFrame, never the driver)
    bench_probes = _bloom_probe_frame(gram_hashes(benchmark).select("gram_hash").distinct())
    bloom_words = bench_probes.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))
    from pyspark.storagelevel import StorageLevel

    # ONE-row bitmap; persist (r7) so the benchmark-side gram + bit_or
    # build pass runs once per session, not per invocation
    dense = bloom_words.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "word"))).alias("bm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.element_at(F.col("bm"), i.cast("bigint")), F.lit(0).cast("bigint")),
        ).alias("bloom")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # PROBE (fact side): ONE pass over the distinct-gram stream — the k
    # membership tests are pure expressions against the broadcast bitmap
    # row (no x-k explode, no per-gram re-aggregation; the first design
    # cost 4x rows + an extra shuffle and benched 6.8s vs ~1s for this)
    probe = (
        F.substring("gram_hash", 1, 8),
        F.substring("gram_hash", 9, 8),
    )
    grams = gram_hashes(documents).select(
        "key",
        F.conv(probe[0], 16, 10).cast("bigint").alias("g1"),
        F.conv(probe[1], 16, 10).cast("bigint").alias("g2"),
    )
    mask = lambda i: (
        f"shiftleft(CAST(1 AS BIGINT), CAST(((g1 + {i} * g2) % {BLOOM_BITS}) % {BLOOM_WORD_BITS} AS INT))"
    )
    word = lambda i: (
        f"element_at(bloom, CAST(((g1 + {i} * g2) % {BLOOM_BITS}) div {BLOOM_WORD_BITS} AS INT) + 1)"
    )
    positive = F.expr(
        " AND ".join(f"(({word(i)} & {mask(i)}) = {mask(i)})" for i in range(BLOOM_K))
    )
    return (
        grams.crossJoin(F.broadcast(dense))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(positive.cast("bigint")).alias("n_bloom_hits"),
        )
        .where(F.col("n_bloom_hits") > 0)
    )


def analyze_documents(documents: DataFrame) -> DataFrame:
    text = F.col("text")
    ws_tokens, bpe_tokens = token_count_cols(text)
    return documents.select(
        "*",
        langid_col(text).alias("lang_pred"),
        quality_struct(text).alias("quality"),
        ws_tokens.alias("n_tokens_ws"),
        bpe_tokens.alias("n_tokens_bpe"),
        fingerprint_col(text).alias("fingerprint"),
    )


def lang_median_chars(documents: DataFrame) -> DataFrame:
    """Exact per-language median (lower median) of document length —
    median IS the p = 1/2 order statistic, so this delegates to
    lang_percentile_chars (rank (cnt+1) div 2 == (1*cnt + 1) div 2) and
    only renames the output column."""
    return lang_percentile_chars(documents, p_num=1, p_den=2).withColumnRenamed(
        "p_chars", "median_chars"
    )

def stratified_sample(documents: DataFrame, delta: float = 0.5) -> DataFrame:
    """EXACT per-`lang` quota sample: the `min(STRATIFIED_QUOTA, n_g)` rows with the
    smallest (md5-hash, key) per group — deterministic, parallelism- and
    arrival-order-independent, and with exact stratum sizes (Bernoulli
    sampling — deterministic_sample — has binomial noise per stratum;
    quota sampling is what corpus mixers actually need).

    Scale shape (the part that matters at 100 TB): a naive window
    row_number ranks EVERY row of a stratum through one task — a language
    stratum is billions of rows, so that plan is a skew bomb. Instead,
    banded rank selection: the hash is uniform on [0, 2^32), so the
    quota'th smallest hash concentrates at (quota/n_g)*2^32. Rows below
    the (1-delta) band edge are kept OUTRIGHT (no sort — a filter); only
    the [t_low, t_high) band — O(delta * quota) rows — is ranked to fill
    the remainder exactly. Group counts are a broadcast agg. The band
    edges are deterministic, and a cheap count validates them: if a band
    ever misses (astronomically unlikely for real quotas, impossible to
    silently tolerate either way) this RAISES rather than returning an
    inexact stratum (same convergence contract as duplicate_clusters).
    Strata where quota >= n_g skip everything (keep all).

    Returns (key, group) — the selected identity rows, joinable back to
    payloads so document text never rides through the ranking shuffle."""
    from pyspark.sql import Window

    M, quota = float(2**32), STRATIFIED_QUOTA
    h = md5_prefix_int(F.col("doc_id").cast("string"))
    keyed = documents.select(
        F.col("doc_id").alias("key"), F.col("lang").alias("grp"), h.alias("h")
    )
    counts = keyed.groupBy("grp").agg(F.count(F.lit(1)).alias("n_g"))
    # exact-double band edges: p = quota/n_g (one IEEE division), edges
    # floor(p*(1±delta)*M) ± slack; slack 64 absorbs tiny-quota granularity
    p = F.lit(float(quota)) / F.col("n_g").cast("double")
    t_low = F.greatest(F.floor(p * F.lit((1.0 - delta) * M)) - 64, F.lit(0)).cast("bigint")
    t_high = F.least(F.floor(p * F.lit((1.0 + delta) * M)) + 64, F.lit(int(M))).cast("bigint")
    # eqNullSafe, not an equi-join key: a NULL group (nullable stratum
    # column) is a legitimate stratum — groupBy and the oracle's
    # PARTITION BY both treat NULL as one group, so the joins must too
    cdf = F.broadcast(
        counts.select(
            F.col("grp").alias("cgrp"), "n_g", t_low.alias("t_low"), t_high.alias("t_high")
        )
    )
    edged = keyed.join(cdf, F.col("grp").eqNullSafe(F.col("cgrp"))).drop("cgrp")
    # strata with quota >= n_g: keep everything, no ranking at all
    full = edged.where(F.col("n_g") <= quota).select("key", "grp")
    part = edged.where(F.col("n_g") > quota)
    below = part.where(F.col("h") < F.col("t_low"))
    band = part.where((F.col("h") >= F.col("t_low")) & (F.col("h") < F.col("t_high")))
    # ONE tiny validation job: per-group below/band counts in a single
    # conditional aggregate (its collect is #groups rows); the collected
    # rows also feed the fill threshold via broadcast. The output action
    # then re-SCANS the table once per branch (full/below/band) — scans
    # are the cheap part of this shape; what is never repeated is a sort
    # or corpus-sized shuffle, and the stratum bulk is never ranked
    stats_rows = (
        part.groupBy("grp")
        .agg(
            F.count(F.when(F.col("h") < F.col("t_low"), 1)).alias("n_below"),
            F.count(
                F.when((F.col("h") >= F.col("t_low")) & (F.col("h") < F.col("t_high")), 1)
            ).alias("n_band"),
        )
        .collect()
    )
    for r in stats_rows:
        if r["n_below"] > quota or r["n_below"] + r["n_band"] < quota:
            raise RuntimeError(
                f"stratified_sample band miss for group {r['grp']!r}: "
                f"n_below={r['n_below']} n_band={r['n_band']} quota={quota}; "
                f"widen delta"
            )
    from pyspark.sql import types as T

    spark = documents.sparkSession
    from ..plans.localtable import literal_table

    n_below = literal_table(
        spark,
        [(r["grp"], r["n_below"]) for r in stats_rows],
        T.StructType(
            [
                T.StructField("grp", documents.schema["lang"].dataType),
                T.StructField("n_below", T.LongType()),
            ]
        ),
    )
    w = Window.partitionBy("grp").orderBy("h", "key")
    nbdf = F.broadcast(n_below.select(F.col("grp").alias("ngrp"), "n_below"))
    filled = (
        band.withColumn("rn", F.row_number().over(w))
        .join(nbdf, F.col("grp").eqNullSafe(F.col("ngrp")))
        .where(F.col("rn") <= quota - F.col("n_below"))
        .select("key", "grp")
    )
    return full.unionByName(below.select("key", "grp")).unionByName(filled)


def chunk_documents(documents: DataFrame, size: int, stride: int) -> DataFrame:
    """Context-window chunking with overlap (stride < size): chunk i
    covers tokens [i*stride, i*stride + size), starts every `stride`
    tokens while a start position remains, the final chunk clamps at the
    document end. The standard pre-training / RAG windowing step.

    Scale shape: zero shuffles — sequence + explode + slice, all codegen;
    the token array is carried through the Generate so the split runs
    ONCE per document, never per chunk (a slice(split(...)) inside the
    exploded projection would re-tokenize per chunk: O(n^2/stride) per
    document). Chunk token counts come from arithmetic, not a second
    slice."""
    if not (0 < stride <= size):
        raise ValueError("need 0 < stride <= size")
    words = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(F.lit(0), F.size(words) - 1, F.lit(stride))
    exploded = documents.select(
        F.col("doc_id").alias("key"), words.alias("w"), F.explode(starts).alias("s")
    )
    n = F.size(F.col("w"))
    return exploded.select(
        "key",
        F.expr(f"s div {stride}").cast("bigint").alias("chunk_id"),
        F.col("s").cast("bigint").alias("chunk_start"),
        F.least(F.lit(size).cast("bigint"), (n - F.col("s")).cast("bigint")).alias(
            "chunk_tokens"
        ),
        F.array_join(F.slice(F.col("w"), F.col("s") + 1, size), " ").alias("chunk_text"),
    )


def pack_documents(documents: DataFrame) -> DataFrame:
    """Token-stream packing: concatenate documents (in deterministic
    md5-hash order) into PACK_STREAMS parallel token streams and cut each
    stream into fixed PACK_CAPACITY-token context windows — each document is
    assigned to the window where its FIRST token lands (documents may
    straddle a window boundary, exactly like pre-training packing with
    cross-document attention masking). Deterministic at any parallelism.

    Scale shape: the stream id is a hash mod (pure filter-free codegen);
    within a stream the running token offset is one window cumsum —
    strictly sequential per stream but parallel ACROSS streams, so
    PACK_STREAMS tracks the cluster and no single task sees the corpus.
    Output is (key, stream, window_id, tok_offset, n_tokens); integer-exact
    everywhere."""
    from pyspark.sql import Window

    h = md5_prefix_int(F.col("doc_id").cast("string"))
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    keyed = documents.select(
        F.col("doc_id").alias("key"),
        h.alias("h"),
        F.pmod(h, F.lit(PACK_STREAMS)).cast("bigint").alias("stream"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("h", "key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return keyed.select(
        "key",
        "stream",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_offset"),
        "n_tokens",
    ).withColumn("window_id", F.expr(f"tok_offset div {PACK_CAPACITY}"))


def lang_percentile_chars(documents: DataFrame, p_num: int, p_den: int) -> DataFrame:
    """Exact per-language p-quantile (lower/disc form, p = p_num/p_den as
    an exact RATIONAL — no float p) of document length: the element at
    rank ceil(p * n) by (n_chars, doc_id). Generalizes lang_median_chars
    to any percentile; interpolated quantiles are float-divergent across
    engines, the rank-selected element is an integer and hash-gates.
    ceil(p*n) computed in integer arithmetic: (p_num*n + p_den - 1) div
    p_den. One shuffle on lang; the per-group sort spills."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = documents.select("lang", "n_chars", "doc_id").select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
    )
    target = F.expr(f"({p_num} * cnt + {p_den - 1}) div {p_den}")
    return ranked.where(F.col("rn") == target).select(
        "lang", F.col("n_chars").alias("p_chars"), F.col("cnt").alias("n_docs")
    )


def mixture_allocate(documents: DataFrame, budget: int, weight_col: str = "n_chars") -> DataFrame:
    """Training-mixture budget allocation: split an integer token budget
    across strata proportionally to their weight using Hamilton's
    largest-remainder method — EXACT integer arithmetic end to end
    (floor-quota via div, the leftover seats to the largest remainders,
    ties broken by group name), so quotas always sum to the budget and the
    result is a pure function of the data. The float alternative
    (round(budget * w/T)) neither sums correctly nor hash-gates.

    Scale shape: one map-side-partial aggregation to #groups rows; total
    and leftover ride a broadcast single-row aggregate; the remainder rank
    is a window over #groups rows (dozens), never the corpus."""
    w = documents.groupBy(F.col("source").alias("grp")).agg(F.sum(weight_col).alias("wt"))
    tot = w.agg(F.sum("wt").alias("total"))
    staged = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "wt",
            # budget * wt in DECIMAL(38,0), not BIGINT: with corpus-scale
            # weights (wt > ~9.2e18/budget) the BIGINT product silently
            # wraps in non-ANSI Spark while DuckDB raises — DECIMAL keeps
            # the product exact to 38 digits; div returns BIGINT, the
            # remainder is only an ordering key
            F.expr(f"CAST(CAST({budget} AS DECIMAL(38,0)) * wt div total AS BIGINT)").alias(
                "base"
            ),
            F.expr(f"(CAST({budget} AS DECIMAL(38,0)) * wt) % total").alias("rem"),
        )
    )
    from pyspark.sql import Window

    # leftover = budget - sum(base): a window SUM over #groups rows
    win_all = Window.partitionBy()
    rank = F.row_number().over(Window.partitionBy().orderBy(F.col("rem").desc(), F.col("grp")))
    return (
        staged.select(
            "grp",
            "wt",
            "base",
            rank.alias("rem_rank"),
            (F.lit(budget).cast("bigint") - F.sum("base").over(win_all)).alias("leftover"),
        )
        .select(
            F.col("grp").alias("source"),
            F.col("wt").alias("weight"),
            (F.col("base") + (F.col("rem_rank") <= F.col("leftover")).cast("bigint")).alias(
                "quota"
            ),
        )
    )


def sampled_percentile_chars(documents: DataFrame) -> DataFrame:
    """Sketch-style quantile ESTIMATE: the exact rank-selected percentile
    (P90_NUM/P90_DEN) of a deterministic md5-bucket sample of
    QUERY_SAMPLE_FRACTION. The exact operator sorts every group member
    (spills at corpus scale); this sorts only fraction*N rows
    with the standard binomial rank-error bound — and, unlike t-digest/
    KLL, the estimate is a pure function of the data (same sample set at
    any parallelism), so it hash-gates across engines. One narrow filter
    + the percentile's single shuffle."""
    out = lang_percentile_chars(deterministic_sample(documents, QUERY_SAMPLE_FRACTION), P90_NUM, P90_DEN)
    return out.select(
        "lang",
        F.col("p_chars").alias("p_chars_est"),
        F.col("n_docs").alias("n_sampled"),
    )


def length_quartiles(documents: DataFrame) -> DataFrame:
    """Per-language length-quartile profile via NTILE over the total order
    (n_chars, doc_id) — deterministic bucket assignment (both engines
    define ntile identically: earlier buckets take the remainder rows),
    rolled up to (lang, quartile, n_docs, min_chars, max_chars). One
    window shuffle on lang + one tiny rollup."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        documents.select("lang", "n_chars", "doc_id")
        .select("lang", "n_chars", F.ntile(4).over(w).alias("quartile"))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def json_roundtrip_stats(documents: DataFrame) -> DataFrame:
    """Schema-on-read JSON path end to end: serialize (doc_id, lang,
    token array) with to_json, parse it back with from_json against an
    explicit schema, and project stats from the PARSED struct. The gate's
    oracle recomputes the stats straight from the base columns — if
    serialization, escaping, or the typed parse lost anything, the hashes
    split. Both directions are JVM Jackson (no UDF)."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    js = documents.select(
        F.to_json(
            F.struct(F.col("doc_id"), F.col("lang"), words.alias("words"))
        ).alias("js")
    )
    parsed = js.select(
        F.from_json("js", "doc_id bigint, lang string, words array<string>").alias("r")
    )
    return parsed.select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.size("r.words").alias("n_words"),
        F.element_at("r.words", 1).alias("first_word"),
        F.element_at("r.words", -1).alias("last_word"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
#
# Pattern notes (shared verbatim between Spark's Java regex and DuckDB's
# RE2): no lookarounds or backreferences (RE2 has neither), no alternation
# whose order could differ, plain character classes and bounded quantifiers
# only — for these constructs leftmost-first greedy matching is identical in
# both engines. Counts are taken on the ORIGINAL text; redaction replaces
# email -> ip -> phone in that fixed order (an IP-looking substring inside
# an email is covered by the email pass first).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{7,15}"
_PII_KINDS = (("email", PII_EMAIL, "<EMAIL>"), ("ipv4", PII_IPV4, "<IP>"), ("phone", PII_PHONE, "<PHONE>"))


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Per-document PII detection + redaction: match counts per kind on
    the original text and a redacted copy with typed placeholders — the
    scrub stage every training corpus runs before export.

    Scale shape: pure per-row codegen string expressions, zero shuffles;
    the three patterns each scan the row once (no explode, no UDF)."""
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).alias(f"n_{kind}")
        for kind, pat, _ in _PII_KINDS
    ]
    red = F.col("text")
    for _, pat, token in _PII_KINDS:
        red = F.regexp_replace(red, pat, token)
    return documents.select(F.col("doc_id").alias("key"), *counts, red.alias("redacted"))


def lang_length_regression(documents: DataFrame) -> DataFrame:
    """Per-language Pearson correlation + OLS fit of whitespace-token
    count (y) against character count (x): (lang, n_docs, corr, slope,
    intercept). The feature-covariance profile a corpus-mixture report
    wants, computed hash-gateable.

    Determinism design (cross-ROW float sums are banned — oracle.py
    header): every moment (Sx, Sy, Sxy, Sxx, Syy) is an EXACT integer sum
    (row products are BIGINT, sums DECIMAL), and the textbook combinations
    n*Sxy - Sx*Sy / n*Sxx - Sx^2 stay in exact decimal integers; each
    rounds to DOUBLE exactly once. The remaining float ops — sqrt
    (IEEE-754 requires correct rounding, so JVM Math.sqrt == libm sqrt
    bit-for-bit), one multiply, one divide per output — are single-rounded
    in a shared op order, so both engines produce identical bits.

    Scale shape: ONE map-side-partial aggregation at lang granularity;
    zero joins, zero windows, no second pass (no mean-centering pass —
    the moment form is the single-pass algebra)."""
    x = F.length(F.col("text")).cast("bigint")
    y = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    moments = documents.select(
        "lang", x.alias("x"), y.alias("y"), (x * y).alias("xy"), (x * x).alias("xx"), (y * y).alias("yy")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("y"))).cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("xy"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec(F.col("xx"))).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec(F.col("yy"))).cast("decimal(38,0)").alias("syy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = F.when(varx > F.lit(0.0), cov / varx)
    corr = F.when(
        (varx > F.lit(0.0)) & (vary > F.lit(0.0)), cov / (F.sqrt(varx) * F.sqrt(vary))
    )
    intercept = F.when(
        varx > F.lit(0.0),
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    )
    return moments.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        corr.alias("corr_chars_tokens"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def weighted_sample(documents: DataFrame) -> DataFrame:
    """Deterministic LENGTH-WEIGHTED Bernoulli sample: each document is
    kept with probability WEIGHTED_RATE * min(n_chars, cap) / cap, cap =
    WEIGHTED_LENGTH_CAP — the
    quality-weighted inclusion rule mixture builders use (longer docs
    proportionally likelier, hard-capped) — with the same md5-bucket
    determinism contract as deterministic_sample: identical keep-set at
    any parallelism, on re-runs, and in the oracle.

    The comparison is EXACT integer arithmetic (no float weight): keep
    iff bucket * cap < round(WEIGHTED_RATE * BUCKETS) * min(n_chars, cap).
    Zero shuffles — a pure codegen filter."""
    rate_num = int(round(WEIGHTED_RATE * SAMPLE_BUCKETS))
    w = F.least(F.col("n_chars"), F.lit(WEIGHTED_LENGTH_CAP))
    return documents.where(
        sample_hash_col(F.col("doc_id")) * F.lit(WEIGHTED_LENGTH_CAP) < w * F.lit(rate_num)
    ).select("doc_id", "lang", "n_chars")


def char_diversity(documents: DataFrame) -> DataFrame:
    """Per-document character diversity: (doc_id, n_chars_total,
    n_distinct_chars, gini) where gini = 1 - sum(count_c^2)/n^2 — the
    Gini-impurity repetitiveness signal (a log-free stand-in for character
    entropy: libm log is not cross-engine reproducible, Gini is exact
    integers plus ONE division). Low gini = keyboard-mash / repeated-char
    spam; empty docs yield NULL gini.

    Scale shape: ZERO shuffles — the count-of-squares comes from a
    run-length fold over the SORTED char array (one array_sort + one
    aggregate per row, all codegen), never an explode + groupBy at
    corpus-char scale. The oracle deliberately uses that heavier
    independent mechanism (UNNEST + GROUP BY) to verify the fold."""
    arr = F.array_sort(F.split(F.col("text"), ""))
    seed = F.struct(
        F.lit("").alias("p"), F.lit(0).cast("bigint").alias("r"), F.lit(0).cast("bigint").alias("s")
    )
    merge = lambda acc, c: F.when(  # noqa: E731
        c == acc["p"],
        F.struct(acc["p"].alias("p"), (acc["r"] + 1).alias("r"), acc["s"].alias("s")),
    ).otherwise(
        F.struct(
            c.alias("p"),
            F.lit(1).cast("bigint").alias("r"),
            (acc["s"] + acc["r"] * acc["r"]).alias("s"),
        )
    )
    s2 = F.aggregate(arr, seed, merge, lambda acc: acc["s"] + acc["r"] * acc["r"])
    n = F.length(F.col("text")).cast("bigint")
    staged = documents.select(
        "doc_id",
        n.alias("n_chars_total"),
        F.when(n > 0, F.size(F.array_distinct(arr))).otherwise(F.lit(0)).cast("bigint").alias("n_distinct_chars"),
        F.when(n > 0, s2).alias("_s2"),
    )
    nn = F.col("n_chars_total") * F.col("n_chars_total")
    return staged.select(
        "doc_id",
        "n_chars_total",
        "n_distinct_chars",
        ((nn - F.col("_s2")).cast("double") / nn.cast("double")).alias("gini"),
    )


def length_outliers(documents: DataFrame) -> DataFrame:
    """Robust per-language outlier profile of document length using
    median/MAD (the z-score's robust sibling — one spam blob cannot drag
    the baseline the way it drags a mean/std): (lang, n_docs,
    median_chars, mad_chars, n_outliers) with outlier := |x - median| >
    3 * MAD. ENTIRELY integer arithmetic — median and MAD are lower-median
    order statistics (the lang_percentile_chars convention), so every
    output hash-gates with no float rules at all.

    Scale shape: two rank selections (one shuffle each, per-group sort
    spills) + a final lang-level conditional aggregate; the medians/MADs
    ride broadcast joins (#langs rows). The deviation frame is a CHEAP
    derivation (scan + broadcast join, no window), so its two consumers
    re-derive it rather than materialize a corpus-sized frame
    (fan-out rule: materialize heavyweight work, recompute cheap scans)."""
    from pyspark.sql import Window

    base = documents.select("lang", "n_chars", "doc_id")

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy("lang").orderBy(col, "doc_id")
        ranked = df.select(
            "lang",
            col,
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
        )
        return ranked.where(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
            "lang", F.col(col).alias(f"med_{col}"), F.col("cnt").alias("n_docs")
        )

    med = lower_median(base, "n_chars").localCheckpoint()  # #langs rows, 3 consumers
    dev = base.join(F.broadcast(med.select("lang", "med_n_chars")), "lang").select(
        "lang", "doc_id", F.abs(F.col("n_chars") - F.col("med_n_chars")).alias("dev")
    )
    mad = (
        lower_median(dev, "dev")
        .select("lang", F.col("med_dev").alias("mad_chars"))
        .localCheckpoint()
    )
    flagged = (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(F.sum((F.col("dev") > F.lit(3) * F.col("mad_chars")).cast("bigint")).alias("n_outliers"))
    )
    return (
        med.select("lang", "n_docs", F.col("med_n_chars").alias("median_chars"))
        .join(F.broadcast(mad), "lang")
        .join(F.broadcast(flagged), "lang")
        .select("lang", "n_docs", "median_chars", "mad_chars", "n_outliers")
    )


def quality_funnel(documents: DataFrame) -> DataFrame:
    """Per-source quality-filter funnel: how many docs survive each
    successive gate (length -> word-length band -> punctuation -> digit
    ratio) — the drop-off report a corpus-cleaning run publishes so you
    can see WHICH filter eats a source. Cumulative semantics (stage i
    implies all earlier stages). ONE map-side-partial aggregation at
    source granularity; the ratio comparisons reuse quality_struct's
    single-rounded expressions, so counts are engine-exact."""
    q = quality_struct(F.col("text"))
    c_len = F.col("q.n_chars") >= 50
    c_wl = c_len & (F.col("q.mean_word_len") >= 3.0) & (F.col("q.mean_word_len") <= 12.0)
    c_punct = c_wl & (F.col("q.punct_ratio") <= 0.1)
    c_digit = c_punct & (F.col("q.digit_ratio") <= 0.2)
    cnt = lambda c, name: F.sum(c.cast("bigint")).alias(name)  # noqa: E731
    return (
        documents.select("source", q.alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            cnt(c_len, "n_len_ok"),
            cnt(c_wl, "n_wordlen_ok"),
            cnt(c_punct, "n_punct_ok"),
            cnt(c_digit, "n_all_ok"),
        )
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID confusion matrix: (lang_true, lang_pred, n_docs,
    frac_of_true) — the classifier-eval primitive (per-class recall lives
    on the diagonal) a corpus pipeline publishes to monitor its langid
    heuristic against labeled data. ONE aggregation at #langs^2
    granularity; frac is exact counts with one division."""
    from pyspark.sql import Window

    cm = (
        documents.select(F.col("lang").alias("lang_true"), langid_col(F.col("text")).alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = Window.partitionBy("lang_true")
    return cm.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(tot).cast("double")).alias("frac_of_true"),
    )


def length_winsorize(documents: DataFrame) -> DataFrame:
    """Per-language winsorization profile at exact RANK-SELECTED p05/p95
    thresholds (interpolated quantiles are float-divergent across engines;
    the rank-selected element is an integer and hash-gates): every doc's
    n_chars clamps into [lo, hi], and the output per language is
    (lang, n_docs, lo_chars, hi_chars, n_clipped_low, n_clipped_high,
    winsorized_chars) with the clamped sum exact BIGINT.

    Rank = ceil(p * n) in integer arithmetic. EXACT order statistics are
    the contract here, so the per-language window ranks every row (the
    lang_percentile_chars shape — the group sort spills at corpus scale);
    sampled_percentile_chars is the documented sketch-path alternative."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = documents.select("lang", "n_chars", "doc_id").select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
    )
    lo_t = F.expr("(cnt + 19) div 20")
    hi_t = F.expr("(19 * cnt + 19) div 20")
    thresholds = (
        ranked.where((F.col("rn") == lo_t) | (F.col("rn") == hi_t))
        .groupBy("lang")
        .agg(F.min("n_chars").alias("lo_chars"), F.max("n_chars").alias("hi_chars"))
    )
    # lo and hi can be the SAME rank row for tiny groups (min == max then);
    # the thresholds table is #langs rows — broadcast
    clamped = documents.select("lang", "n_chars").join(F.broadcast(thresholds), "lang")
    wins = F.greatest(F.col("lo_chars"), F.least(F.col("hi_chars"), F.col("n_chars")))
    return clamped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("lo_chars").alias("lo_chars"),
        F.min("hi_chars").alias("hi_chars"),
        F.sum((F.col("n_chars") < F.col("lo_chars")).cast("bigint")).alias("n_clipped_low"),
        F.sum((F.col("n_chars") > F.col("hi_chars")).cast("bigint")).alias("n_clipped_high"),
        F.sum(wins.cast("bigint")).alias("winsorized_chars"),
    )


def source_diversity(documents: DataFrame) -> DataFrame:
    """Per-group Simpson concentration index over sources: sum over
    sources of (c_s / n)^2 — 1/HHI-style mixture-diversity monitor, the
    'is one crawl dominating this language' number a corpus build watches.

    Hash-gating shape: per-source ratios divide while the integers are
    exact in double (c_s, n < 2^53 — the label_centroid_distances ulp
    lesson: never sum the big squared integers first, a HUGEINT->DOUBLE
    cast past 2^63 double-rounds in DuckDB), then an ORDERED left-fold
    over the source-sorted ratio array (a float SUM over a groupBy is
    reduction-order dependent; the fold is one deterministic sequence,
    == DuckDB's list_reduce(list_prepend(0.0, ...))). Source counts per
    group are map-side-partial; the fold array is #sources long (tiny)."""
    counts = (
        documents.groupBy(F.col("lang").alias("grp"), F.col("source").alias("src"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_grp = counts.groupBy("grp").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.array_sort(F.collect_list(F.struct(F.col("src"), F.col("c")))).alias("cs"),
    )
    simpson = F.expr(
        "aggregate(transform(cs, x -> (CAST(x.c AS DOUBLE) / CAST(n_docs AS DOUBLE))"
        " * (CAST(x.c AS DOUBLE) / CAST(n_docs AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return per_grp.select(
        F.col("grp").alias("lang"),
        "n_docs",
        "n_sources",
        simpson.alias("simpson"),
    )


def readability(documents: DataFrame) -> DataFrame:
    """Flesch-style readability score as a quality-filter signal:

        score = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)

    with deterministic integer proxies — sentences = max(1, count of
    [.!?]+ runs), syllables = max(n_words, count of [aeiouy]+ runs in the
    lowercased text) (every word contributes at least one syllable).
    Counts are exact BIGINTs; the two ratios round once each to DOUBLE and
    the combination is fixed-order single-rounded IEEE arithmetic from
    shared literals, so the score hash-gates (the length_correlation
    recipe). Pure codegen, zero shuffles."""
    text = F.col("text")
    n_words = F.size(F.split(F.trim(text), r"\s+")).cast("bigint")
    n_sent = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), F.lit(0))).cast("bigint"),
    )
    n_syl = F.greatest(
        n_words,
        F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[aeiouy]+"), F.lit(0))).cast("bigint"),
    )
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syl.cast("double") / n_words.cast("double")
    score = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    return documents.select(
        F.col("doc_id"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        score.cast("float").cast("double").alias("flesch"),
    )


def temperature_mixture(documents: DataFrame, budget: int) -> DataFrame:
    """Temperature-scaled mixture allocation: Hamilton quotas over TEMPERED
    weights w^(1/T) — the up/down-weighting every multi-source training mix
    applies before sampling. The temperature is T=2, whose power is
    EXACTLY reproducible: sqrt is IEEE-correctly-rounded in both
    engines; tempered weight = floor(sqrt(w)*2^10 + 0.5), a single-rounded
    chain onto an exact integer. A general pow() is libm and cannot
    hash-gate.

    The quota math reuses mixture_allocate verbatim on a one-row-per-group
    tempered-weight frame (the group-by inside is then a pass-through)."""
    w = documents.groupBy(F.col("source").alias("grp")).agg(F.sum("n_chars").alias("wt"))
    tempered = F.floor(F.sqrt(F.col("wt").cast("double")) * F.lit(1024.0) + F.lit(0.5)).cast("bigint")
    tw = w.select(F.col("grp").alias("source"), tempered.alias("wt_t"))
    return mixture_allocate(tw, budget, weight_col="wt_t")


SPAN_WORDS = 8  # word n-gram width of span_scrub


def span_scrub(documents: DataFrame) -> DataFrame:
    """Duplicated-SPAN removal (the RefinedWeb/exact-substring scrub step —
    duplicated_span_stats says how much is duplicated, this actually
    REMOVES it): any token covered by an occurrence of a SPAN_WORDS-gram that
    appears in >= 2 distinct documents is scrubbed; the surviving
    stream is rebuilt in order and md5-hash-gated (exact sequence).

    Scale shape: gram text never shuffles — (doc, md5(gram)) pairs
    aggregate to the (doc, digest) level FIRST (the repeated-grams rule),
    so hot-gram doc counts are COUNT(*); cover positions expand via a
    bounded sequence() explode (n per occurrence); the scrub is one
    co-partitioned anti-join on (doc, pos)."""
    toks = documents.select(
        F.col("doc_id").alias("key"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "tok"),
    ).localCheckpoint()  # feeds the rebuild AND the token counts
    doc_grams = documents.select(
        F.col("doc_id").alias("key"),
        F.posexplode(_word_ngrams_col(F.col("text"), SPAN_WORDS)).alias("gpos", "g"),
    ).select("key", "gpos", F.md5("g").alias("dg")).localCheckpoint()
    hot = (
        doc_grams.select("key", "dg")
        .distinct()
        .groupBy("dg")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("dg")
    )
    cover = (
        doc_grams.join(hot, "dg")
        .select("key", F.explode(F.sequence(F.col("gpos"), F.col("gpos") + (SPAN_WORDS - 1))).alias("pos"))
        .distinct()
    )
    n_tok = toks.groupBy("key").agg(F.count(F.lit(1)).alias("n_tokens"))
    n_scrub = cover.groupBy("key").agg(F.count(F.lit(1)).alias("n_scrubbed"))
    rebuilt = (
        toks.join(cover, ["key", "pos"], "left_anti")
        .groupBy("key")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]),
                    " ",
                )
            ).alias("scrubbed_md5")
        )
    )
    return (
        n_tok.join(n_scrub, "key", "left")
        .join(rebuilt, "key", "left")
        .select(
            F.col("key").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_scrubbed", F.lit(0).cast("bigint")).alias("n_scrubbed"),
            # a fully-scrubbed document has an EMPTY stream: md5('')
            F.coalesce("scrubbed_md5", F.md5(F.lit(""))).alias("scrubbed_md5"),
        )
    )


# Fixed linear quality model (fasttext-style classifier stand-in): weights
# are part of the operator contract (a trained model would ship the same
# way — a broadcast constant vector); the score is a fixed-order
# single-rounded combination of the quality_struct features, so it
# hash-gates like readability.
QUALITY_LR_WEIGHTS = (-1.5, 0.35, -4.0, -2.5, 0.0008)  # bias, mean_wl, punct_r, digit_r, n_chars


def quality_lr_score(documents: DataFrame) -> DataFrame:
    """Linear quality-classifier APPLY (the classifier-based filtering
    stage; weights fixed, see QUALITY_LR_WEIGHTS): score = w0 + w1*mwl +
    w2*punct + w3*digit + w4*n_chars, keep = score > 0. Pure codegen,
    zero shuffles; float ops fixed-order single-rounded from shared
    strtod literals."""
    q = quality_struct(F.col("text"))
    w0, w1, w2, w3, w4 = QUALITY_LR_WEIGHTS
    score = (
        F.lit(w0)
        + F.lit(w1) * q["mean_word_len"]
        + F.lit(w2) * q["punct_ratio"]
        + F.lit(w3) * q["digit_ratio"]
        + F.lit(w4) * q["n_chars"].cast("double")
    )
    return documents.select(
        F.col("doc_id"),
        score.cast("float").cast("double").alias("lr_score"),
        (score > 0).alias("keep"),
    )


def dataset_split(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket (the
    deterministic_sample convention: same split at any parallelism, on
    re-runs, and in the oracle) + per-(split, lang) counts — the audit
    view every corpus release ships. Bucket = md5 prefix % 100:
    [0, 10) -> val, [10, 20) -> test, rest train.
    Zero-shuffle assignment; one (split, lang) rollup."""
    # 100 divides SAMPLE_BUCKETS, so this nests exactly inside the
    # deterministic_sample bucket space
    bucket = sample_hash_col(F.col("doc_id")) % 100
    split = (
        F.when(bucket < 10, F.lit("val"))
        .when(bucket < 20, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        documents.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
