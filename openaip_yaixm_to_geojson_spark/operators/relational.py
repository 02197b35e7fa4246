"""Generic relational queries over the TPC-H-ish tables — evidence that
the engine's plain DataFrame surface (multi-way broadcast joins, grouped
aggregation, top-k) behaves like any warehouse, beyond the spatial/webtext
specialty operators.

Float policy: per-row double arithmetic (price * (1 - discount)) is
deterministic, but a cross-row SUM of doubles depends on reduction order —
so every hash-compared money aggregate casts the per-row double to DECIMAL
first and sums exactly (same contract as operators/events.py). The final
output column is then cast DECIMAL -> DOUBLE: one deterministic IEEE-754
rounding of an exact value, identical in Spark and DuckDB, so the gate
harness hashes a primitive instead of an engine-specific Decimal repr.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHARS_HISTOGRAM_WIDTH = 32
RANGE_PARTITION_BINS = 8
PARETO_BUCKETS = 32  # hash buckets of pareto_frontier's local-skyline phase
RETURNED_TOP_K = 20  # customers kept by returned_item_revenue


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one shuffle, map-side partials."""
    disc_price = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(38,6)").cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def segment_revenue_topk(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3-shaped: revenue per order for the BUILDING market segment, top 10.

    customer (filtered, tiny) broadcasts into orders; the orders->lineitem
    join shuffles on the order key; ties in revenue break on o_orderkey so
    the top 10 is total-ordered and oracle-reproducible."""
    disc_price = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    cust = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_orderpriority")
        .join(lineitem.select("l_orderkey", disc_price.alias("dp")),
              F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return (
        joined.groupBy("o_orderkey", "o_orderpriority")
        .agg(F.sum("dp").cast("decimal(38,6)").alias("revenue_dec"))
        .orderBy(F.col("revenue_dec").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("revenue_dec").cast("double").alias("revenue"),
        )
    )


def local_supplier_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5-shaped: per-nation revenue where customer and supplier sit
    in the same nation of the ASIA region, over the 1996 order-date year.

    Join strategy for the 100-TB layout: region->nation (25 rows) and
    supplier (small dim) BROADCAST into the fact chain; the only shuffles
    are the two fact joins (orders onto customer by custkey, lineitem onto
    that by orderkey) plus the final 5-row agg — the same-nation condition
    rides the supplier broadcast as a post-join filter, never a shuffle
    key. Date filter pushes to the orders scan. Revenue uses the shared
    DECIMAL-exact sum, one DOUBLE cast at the boundary."""
    disc_price = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    nat = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    supp = supplier.select("s_suppkey", "s_nationkey")
    return (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .join(
            lineitem.select("l_orderkey", "l_suppkey", disc_price.alias("dp")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("dp").cast("decimal(38,6)").cast("double").alias("revenue"))
    )


def corpus_cube(documents: DataFrame) -> DataFrame:
    """All four (lang x source) grouping combinations in ONE pass: CUBE
    with grouping_id disambiguating rolled-up NULLs (Spark and DuckDB
    share the first-column-is-MSB bitmask convention). Counts and the
    n_chars sum stay integer-exact.

    Scale shape: Spark expands CUBE before the shuffle (each input row
    fans out to 4 grouping-set rows) but the aggregation is map-side
    partial on (gid, lang, source) — the shuffle carries one partial row
    per grouping combination per task, not the fact table."""
    return (
        documents.cube("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "sum_chars")
    )


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style column statistics in ONE aggregation pass: per column
    the non-null count, exact distinct count, and min/max (numeric min
    first, then cast to string for the uniform output schema — cast-then-
    min would compare lexicographically). Output is long-format
    (n_rows, column_name, n_nonnull, n_distinct, min_value, max_value).

    Scale shape: a single agg over the table — Spark plans the multiple
    exact count-distincts with one Expand (each input row fans out per
    distinct column) and map-side partials, so the shuffle carries
    per-column partial states, not rows. The stack() unpivot runs on the
    one aggregated row. Float columns should be rounded/cast by the
    caller first (float-to-string formatting is engine-specific)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    row = df.agg(F.count(F.lit(1)).alias("__total"), *aggs)
    stacked = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__mn`, `{c}__mx`" for c in cols
    )
    return row.select(
        F.col("__total").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(column_name, n_nonnull, n_distinct, min_value, max_value)"
        ),
    )


def merge_upsert(base: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a change set
    (`op` column: 'upsert' | 'delete') to a base snapshot — matched
    upserts update, unmatched upserts insert, deletes drop, untouched
    base rows pass through. Returns the next snapshot (same schema as
    base). The incremental-snapshot consolidation step every corpus
    refresh needs.

    Contract: at most one change row per key (standard MERGE source
    requirement).

    Scale shape — the base NEVER shuffles: a full-outer formulation would
    force a sort-merge join (Spark cannot broadcast any side of a full
    outer — measured, not assumed), shuffling the entire snapshot. This
    decomposition needs only a LEFT ANTI join of the base against the
    touched keys — broadcast, keys-only — plus a union of the
    upsert rows. The oracle recomputes via the full-outer + CASE strategy, so
    both formulations verify each other."""
    touched = changes.select("doc_id").distinct()
    survivors = base.join(F.broadcast(touched), "doc_id", "left_anti")
    upserts = changes.where(F.col("op") == "upsert").select(*base.columns)
    return survivors.unionByName(upserts)


def big_orders(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total line quantity exceeds
    300 — the aggregate -> HAVING -> join-back-into-facts plan shape
    (the other relational gates are scan->agg or dim-broadcast chains).

    Scale shape: the lineitem agg is map-side partial on the order key;
    the HAVING filter shrinks it to a sliver BEFORE the join back to
    orders, so the join's build side is threshold-selected, never
    corpus-sized. Quantity sums are DECIMAL-exact (the > threshold compare
    happens on the exact value), one DOUBLE cast at the boundary."""
    qty = (
        lineitem.groupBy(F.col("l_orderkey"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)").alias("qd"))
        .where(F.col("qd") > F.lit(300))
    )
    return orders.join(qty, orders.o_orderkey == qty.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("qd").cast("double").alias("total_qty"),
    )


SNAPSHOT_V2_RULES = (
    "doc_id % 13 == removed",
    "doc_id % 7 == text suffixed (changed)",
    "doc_id % 11 == cloned at doc_id + 10^9 (added)",
)


def snapshot_v2_sql(dialect: str) -> str:
    """SQL deriving the deterministic 'next corpus snapshot' from
    `documents` — drops % 13, edits % 7, clones % 11 under a disjoint id
    range. Identical text in both engines (string concat only)."""
    cast = "AS STRING" if dialect == "spark" else "AS VARCHAR"
    base = (
        "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN concat(text, ' v2') ELSE text END AS text "
        "FROM documents WHERE doc_id % 13 <> 0"
    )
    added = (
        f"SELECT doc_id + 1000000000 AS doc_id, concat('clone of ', CAST(doc_id {cast})) AS text "
        "FROM documents WHERE doc_id % 11 = 0"
    )
    return f"{base} UNION ALL {added}"


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """CDC between two corpus snapshots: (key, change_type) for every
    added / removed / changed document, content compared by md5 so only
    32-char digests travel through the join (never the text payloads).

    One full-outer shuffle join on the key — the minimal distributed diff;
    unchanged rows are filtered OUT so the output is |delta|-sized, which
    is what downstream incremental maintenance consumes. At Iceberg scale
    both sides arrive partition-pruned by the snapshot metadata and the
    join keys inherit the table bucketing."""
    o = old.select(
        F.col("doc_id").alias("key"), F.md5("text").alias("oh"), F.lit(True).alias("in_old")
    )
    n = new.select(
        F.col("doc_id").alias("key"), F.md5("text").alias("nh"), F.lit(True).alias("in_new")
    )
    joined = o.join(n, "key", "full_outer")
    # presence via explicit indicator columns, NEVER digest-nullness:
    # md5(NULL content) is NULL, so a NULL-text row present on both sides
    # would otherwise misreport as added/removed; the content compare is
    # null-safe (eqNullSafe) for the same reason
    change = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(~F.col("oh").eqNullSafe(F.col("nh")), F.lit("changed"))
    )
    return joined.select("key", change.alias("change_type")).where(
        F.col("change_type").isNotNull()
    )


def chars_histogram(documents: DataFrame) -> DataFrame:
    """Fixed-width histogram of document lengths: integer bucket =
    n_chars div CHARS_HISTOGRAM_WIDTH (exact — no float binning), with
    per-bucket count and the bucket's observed min/max. One map-side-partial shuffle on
    the bucket key; the profiling counterpart to profile_table."""
    return (
        documents.select(
            F.expr(f"n_chars div {CHARS_HISTOGRAM_WIDTH}").alias("bucket"), F.col("n_chars")
        )
        .groupBy("bucket")
        .agg(
            (F.col("bucket") * CHARS_HISTOGRAM_WIDTH).alias("bucket_lo"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select("bucket", "bucket_lo", "n_docs", "min_chars", "max_chars")
    )


def order_count_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed exactly k orders, INCLUDING the zero-order bucket
    (the left join is the whole point of Q13 — an inner formulation
    silently drops inactive customers).

    Scale shape: orders pre-aggregate to <= #customers rows BEFORE the
    join (never join the raw fact to the dimension), then a left
    key-to-key equi-join and a tiny #distinct-counts rollup. Counts are
    integers end to end — nothing to hash-drift."""
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    joined = customer.select("c_custkey").join(
        per_cust, customer["c_custkey"] == per_cust["o_custkey"], "left"
    )
    return (
        joined.select(F.coalesce(F.col("n_orders"), F.lit(0).cast("bigint")).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def min_cost_supplier(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier per part, re-derived from the
    lineitem stream (this schema carries no partsupp table): unit price =
    l_extendedprice / l_quantity — ONE IEEE division per row, so the
    value is bit-identical in any engine — the per-part minimum is an
    exact selection (not an accumulation), and ties on the minimum break
    to the smallest supplier key.

    Scale shape: ONE Exchange on l_partkey — the min is a window over
    the partkey partition and the achiever filter + groupBy reuse that
    same partitioning (no second shuffle); part and supplier are
    broadcast dims. The oracle recomputes via the independent
    groupBy-then-join-back formulation."""
    from pyspark.sql import Window

    u = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    li = lineitem.select("l_partkey", "l_suppkey", u)
    w = Window.partitionBy("l_partkey")
    best = (
        li.withColumn("min_unit", F.min("unit_price").over(w))
        .where(F.col("unit_price") == F.col("min_unit"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("best_suppkey"),
            F.min("min_unit").alias("min_unit_price"),
        )
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), best.best_suppkey == supplier.s_suppkey)
        .select("p_partkey", "p_name", "best_suppkey", "s_name", "min_unit_price")
    )


def pareto_frontier(documents: DataFrame) -> DataFrame:
    """Skyline query: documents not dominated on (n_chars, n_distinct
    tokens) — dominator has both >= and at least one strictly greater.
    Duplicates of a frontier point all survive (identical points never
    dominate each other). Output (doc_id, n_chars, n_distinct_tokens).

    Classic two-phase distributed skyline (e.g. Borzsony/Kossmann/Stocker
    BNL lineage): a LOCAL skyline per hash bucket (PARETO_BUCKETS of
    them) — windows PARTITIONED by bucket, so the fact table is never
    globally sorted — then the exact
    skyline of the tiny survivor union. Sound because dominance is
    transitive: every dominated point has a maximal dominator, which no
    bucket can eliminate. Dominance test per phase is two windows:
    max(y) over strictly-greater x (RANGE 1 FOLLOWING .. UNBOUNDED) and
    max(y) within the same x."""
    from pyspark.sql import Window

    from ..plans.fanout import fan_out

    x = F.col("n_chars")
    y = F.size(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")))
    pts = fan_out(documents).select("doc_id", x.alias("x"), y.cast("bigint").alias("y"))

    def survivors(df: DataFrame, *part) -> DataFrame:
        gt = (
            Window.partitionBy(*part)
            .orderBy("x")
            .rangeBetween(1, Window.unboundedFollowing)
        )
        eq = Window.partitionBy(*part, "x")
        return (
            df.withColumn("m_gt", F.max("y").over(gt))
            .withColumn("m_eq", F.max("y").over(eq))
            .where((F.col("m_gt").isNull() | (F.col("m_gt") < F.col("y"))) & (F.col("m_eq") == F.col("y")))
            .drop("m_gt", "m_eq")
        )

    local = survivors(
        pts.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(PARETO_BUCKETS))), "bucket"
    ).drop("bucket")
    return survivors(local).select(
        "doc_id", F.col("x").alias("n_chars"), F.col("y").alias("n_distinct_tokens")
    )


def returned_item_revenue(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q10 shape: lost revenue from returned items per customer in
    the first quarter of 1996 — fact filter (returnflag + date window) -> dim-broadcast
    chain (orders-in-window, customer, nation) -> customer rollup ->
    global top-RETURNED_TOP_K. Output (c_custkey, c_name, n_name, revenue, n_items).

    Scale shape: both filters reach the scans as pushed predicates; the
    date-windowed orders sliver and the dims broadcast; revenue is
    DECIMAL-exact (price x (1 - discount) in decimal — float products
    can't hash-gate) with one DOUBLE cast; the top-k is
    TakeOrderedAndProject on (revenue DESC, custkey) — no global sort
    materializes. The exact-decimal ordering happens BEFORE the double
    cast, so ties and near-ties are engine-independent."""
    li = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev"),
    )
    ow = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        li.join(F.broadcast(ow), li.l_orderkey == ow.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum("rev").cast("decimal(38,4)").alias("revd"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    out = (
        per_cust.join(F.broadcast(customer), per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .orderBy(F.col("revd").desc(), F.col("c_custkey"))
        .limit(RETURNED_TOP_K)
    )
    return out.select(
        "c_custkey", "c_name", "n_name", F.col("revd").cast("double").alias("revenue"), "n_items"
    )


def range_partition_plan(documents: DataFrame) -> DataFrame:
    """Balanced RANGE-PARTITIONER boundary derivation (the planner behind
    range-clustered writes / global sorted output): equi-depth bin edges
    at exact target ranks, computed WITHOUT ranking the corpus.

    Shape: a value-granularity histogram first (map-side-partial groupBy —
    the distinct-value set is small; the corpus is never windowed), then
    the cumulative count over the SORTED DISTINCT VALUES only, edge_j =
    smallest value whose cumulative count reaches ceil(j*N/n_bins) for
    n_bins = RANGE_PARTITION_BINS, and
    bin(v) = #edges < v (value-based: equal values always share a bin, so
    bins can be uneven exactly where duplicates force it — deterministic,
    unlike NTILE's rank-splitting of ties). Everything is integer
    arithmetic; output (bin_id, lo_value, hi_value, n_docs) hash-gates.

    The single-partition window runs over #distinct values, not rows —
    the same aggregate-first discipline as events_retention."""
    from pyspark.sql import Window

    n_bins = RANGE_PARTITION_BINS
    if n_bins < 2:
        # sequence(1, 0) counts DOWN in Spark (the _word_ngrams_col trap) —
        # a 1-bin plan is also meaningless; fail loudly
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    hist = documents.groupBy(F.col("n_chars").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "v",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    ).localCheckpoint()  # feeds the edge derivation AND the bin assignment
    edges = (
        cum.select(
            "v", "cum", "n", F.explode(F.sequence(F.lit(1), F.lit(n_bins - 1))).alias("j")
        )
        .where(F.col("cum") >= F.expr(f"(j * n + {n_bins - 1}) div {n_bins}"))
        .groupBy("j")
        .agg(F.min("v").alias("edge"))
    )
    assigned = (
        cum.select("v", "c")
        .crossJoin(F.broadcast(edges.select("edge")))
        .groupBy("v", "c")
        .agg(F.sum((F.col("edge") < F.col("v")).cast("bigint")).alias("bin_id"))
    )
    return assigned.groupBy("bin_id").agg(
        F.min("v").alias("lo_value"),
        F.max("v").alias("hi_value"),
        F.sum("c").alias("n_docs"),
    )


SKETCH_BIN_WIDTH = 32  # n_chars per histogram bin of sketch_quantiles


def sketch_quantiles(documents: DataFrame) -> DataFrame:
    """Histogram-sketch quantile ESTIMATES — the mergeable path beside the
    exact order statistics (lang_median_chars/length_quartiles sort or
    rank; this reduces the corpus to an equi-width histogram first, the
    state a 1000-executor job would actually merge, then interpolates).

    The quantiles are the median, p90 and p99 over SKETCH_BIN_WIDTH-char
    bins. Each
    quantile is (num, den) with target rank ceil(num*n/den) computed
    in exact integers; the estimate is bin_lo + (target - cum_before) /
    bin_count * width — exact BIGINTs into three single-rounded double ops,
    so the result hash-gates. Output one row per quantile: (q_num, q_den,
    target_rank, bin_lo, bin_count, estimate).

    Scale shape: ONE map-side-partial aggregation to #bins rows; the
    cumsum window and the per-quantile argmin run over #bins, never the
    corpus."""
    from pyspark.sql import Window

    hist = (
        documents.groupBy(F.expr(f"n_chars div {SKETCH_BIN_WIDTH}").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy().orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    ).localCheckpoint()  # #bins rows; feeds every quantile branch
    out = None
    for num, den in ((1, 2), (9, 10), (99, 100)):
        target = F.expr(f"({num} * n + {den - 1}) div {den}")
        qualifying = cum.where(F.col("cum") >= target).select(
            F.lit(num).alias("q_num"),
            F.lit(den).alias("q_den"),
            target.alias("target_rank"),
            (F.col("bin") * SKETCH_BIN_WIDTH).alias("bin_lo"),
            "cnt",
            (F.col("cum") - F.col("cnt")).alias("cum_before"),
            F.col("bin").alias("_bin"),
        )
        first = qualifying.groupBy("q_num", "q_den").agg(
            F.min(
                F.struct("_bin", "target_rank", "bin_lo", F.col("cnt").alias("bin_count"), "cum_before")
            ).alias("_b")
        )
        row = first.select(
            "q_num",
            "q_den",
            F.col("_b.target_rank").alias("target_rank"),
            F.col("_b.bin_lo").alias("bin_lo"),
            F.col("_b.bin_count").alias("bin_count"),
            (
                F.col("_b.bin_lo").cast("double")
                + (F.col("_b.target_rank") - F.col("_b.cum_before")).cast("double")
                / F.col("_b.bin_count").cast("double")
                * F.lit(float(SKETCH_BIN_WIDTH))
            ).alias("estimate"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): one filtered scan, one
    global aggregate — the canonical predicate-pushdown benchmark query.
    Revenue per row is a single-rounded double product cast to
    DECIMAL(18,6) so the cross-row SUM is exact (a double SUM's value
    depends on reduction order — the pricing_summary invariant); one
    DOUBLE cast at the output boundary."""
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= F.lit(0.05))
            & (F.col("l_discount") <= F.lit(0.07))
            & (F.col("l_quantity") < F.lit(24.0))
        )
        .agg(
            F.sum(rev).cast("decimal(38,6)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
