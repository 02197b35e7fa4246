"""Event-stream relational operators over the `events` table
(event_id, ts, user_id, event_type, value, props-JSON).

The engine's time-series surface: gap sessionization (`sessionize`, and
`user_sessions` keyed by user), tumbling-window aggregation, and JSON
property extraction — all built-in expressions, one shuffle each. Float
`value` aggregates are carried as DECIMAL(18,2) sums (order-independent
and exact) because a double sum's value depends on reduction order and
could never hash-match an oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


SESSION_GAP_SECONDS = 1800  # a longer gap between a user's events starts a new session
WINDOW_SECONDS = 3600  # the tumbling window of the per-type event rollups
INTERVAL_BUCKET_SECONDS = 3600  # interval_join's time-bucket width
MOVING_FRAME_ROWS = 5  # rows in events_moving_stats' trailing frame
STICKINESS_WINDOW_DAYS = 30  # the trailing MAU window of events_stickiness


def events_from_dir(spark, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def sessionize(
    events: DataFrame, ts_col: str = "warc_ts", gap_seconds: int = SESSION_GAP_SECONDS
) -> DataFrame:
    """Gap-based sessions per key (lag + running session counter): events of
    a key belong to one session while consecutive gaps stay <= gap_seconds.
    Returns ALL sessions, including each key's final one, as (key,
    session_start, session_end, n_events) with epoch-second longs."""
    from pyspark.sql import Window

    ts_s = F.unix_timestamp(F.col(ts_col))
    marked = events.select("key", ts_s.alias("t")).withColumn(
        "new_session",
        F.when(F.col("t") - F.lag("t").over(Window.partitionBy("key").orderBy("t")) > gap_seconds, 1)
        .otherwise(0),
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(Window.partitionBy("key").orderBy("t"))
    )
    return sess.groupBy("key", "session_id").agg(
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("session_id")


def user_sessions(events: DataFrame) -> DataFrame:
    """Gap-based sessions per user over the event timestamps (`sessionize`
    keyed by user_id). Returns (key, session_start, session_end, n_events)
    with epoch-second longs."""
    ev = events.select(F.col("user_id").cast("string").alias("key"), F.col("ts"))
    return sessionize(ev, ts_col="ts")


def event_type_windows(events: DataFrame) -> DataFrame:
    """Tumbling-window rollup per event type: (window_start epoch seconds,
    event_type, n_events, total_value). The window key is plain integer
    arithmetic on the epoch — equivalent to F.window(ts, '1 hour').start
    but directly comparable across engines."""
    epoch = F.unix_timestamp("ts")
    wstart = (epoch - epoch % WINDOW_SECONDS).alias("window_start")
    return (
        events.select(wstart, "event_type", F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL sum (exact, order-independent) then one deterministic
            # IEEE rounding to DOUBLE so gate harnesses hash a primitive.
            F.sum("v").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
    )


def props_k_stats(events: DataFrame) -> DataFrame:
    """JSON property extraction + rollup: pull `k` out of the props JSON
    string (get_json_object — JVM-side Jackson path, no UDF) and aggregate
    its range per event type."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct("k").alias("k_distinct"),
        )
    )


_ASOF_VALUES = ("event_id", "value")  # right-side columns carried onto each left row


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Backward as-of join: each left row matched to the most recent right
    row of the same user_id with right.ts <= left.ts — pandas merge_asof /
    kdb aj semantics. Spark has no native as-of join; a naive range join
    explodes to O(left x right) per key. The distributed formulation here
    is union + carry-forward: tag both sides, sort within key,
    LAST(ignorenulls) over an unbounded-preceding window carries the latest
    right payload onto every left row. ONE shuffle on the key, per-key
    sort only (spillable), no range explosion, no Python.

    Determinism: right rows tying on (user_id, ts) resolve to the greatest
    event_id — not by a separate dedup pass (which would cost
    its own Exchange + Window on (user_id, ts)) but by the carry-forward
    window's own sort order: the greatest-lead right row sorts LAST within
    the tie, so LAST(ignorenulls) picks it. DuckDB's native ASOF JOIN
    (the oracle) leaves duplicate-timestamp picks undefined, so it
    pre-dedupes explicitly to the same rule.

    Output: every left column, plus matched_event_id and matched_value
    (NULL when no right row precedes). The matched_* columns all
    come from the SAME right row (they are null on exactly the same tagged
    rows, so each LAST picks from the identical latest non-null row)."""
    from pyspark.sql import Window

    r = right.select("user_id", "ts", *_ASOF_VALUES)

    left_cols = left.columns
    tagged_r = r.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("_is_r"),
        *[F.col(c).alias(f"_rv_{c}") for c in _ASOF_VALUES],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in ("user_id", "ts")],
    )
    tagged_l = left.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("_is_r"),
        *[F.lit(None).cast(r.schema[c].dataType).alias(f"_rv_{c}") for c in _ASOF_VALUES],
        *[F.col(c) for c in left_cols if c not in ("user_id", "ts")],
    )
    # at equal ts the right row sorts before the left one (<=). The
    # trailing _rv_event_id term orders tying right rows among themselves
    # — greatest event_id sorts last and wins.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.desc("_is_r"), F.col("_rv_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged_l.unionByName(tagged_r).select(
        "*",
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"matched_{c}")
            for c in _ASOF_VALUES
        ],
    )
    return carried.where(F.col("_is_r") == 0).select(
        *left_cols, *[f"matched_{c}" for c in _ASOF_VALUES]
    )


def interval_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Range/interval containment join (point.t BETWEEN interval.start AND
    interval.end, same key) via time-bucket binning — the 1-D analogue of
    the engine's cell-cover spatial join. Spark plans a raw BETWEEN join as
    a per-key theta join (O(points x intervals)); binning turns it into an
    equi-join: each interval registers under every bucket it overlaps
    (explode on the SMALL side), each point probes exactly one bucket, and
    the exact BETWEEN filter runs on candidates only. One shuffle each side
    on (key, bucket).

    Bucket sizing is the usual bin-join tradeoff: long intervals explode
    across many buckets, tiny buckets multiply the interval side — pick
    near the median interval length (mixed scales would split per-scale
    like the quadtree-compact spatial cover). Bucket keys are pure integer
    arithmetic (t - t % bucket), so the DuckDB oracle (which executes the
    same query as a native IEJoin — an independent strategy) sees identical
    semantics. Points inside overlapping intervals match each one."""
    b = F.lit(INTERVAL_BUCKET_SECONDS)
    pt_bucket = (F.col("t") - F.col("t") % b).alias("_bucket")
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.col("session_start") - F.col("session_start") % b,
                F.col("session_end") - F.col("session_end") % b,
                b,
            )
        ),
    )
    return (
        points.select("*", pt_bucket)
        .join(iv, ["key", "_bucket"])
        .where((F.col("t") >= F.col("session_start")) & (F.col("t") <= F.col("session_end")))
        .drop("_bucket")
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(events: DataFrame) -> DataFrame:
    """Wide transform: one row per user with per-event-type counts pivoted
    to columns plus the exact total value. The pivot VALUES are passed
    explicitly — without them Spark runs an extra distinct-collect job
    over the fact table just to discover the column set (and the output
    schema would depend on the data, which a stored table must not).
    Single map-side-partial shuffle on user_id; value sum is DECIMAL-exact
    then cast once to DOUBLE at the output boundary (oracle determinism
    rule)."""
    wide = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
    )
    # total = sum of the per-type DECIMAL sums: a fixed-order addition of
    # exact decimals, so still order-independent; one aggregation, no
    # second pass or join over the fact table
    total = sum(
        (F.coalesce(F.col(f"{t}_v"), F.lit(0).cast("decimal(18,2)")) for t in EVENT_TYPES),
        F.lit(0).cast("decimal(18,2)"),
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES],
        total.cast("decimal(38,2)").cast("double").alias("total_value"),
    )


def user_sessions_native(events: DataFrame) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window operator —
    Catalyst's own merging-session aggregation, one shuffle, no window
    functions. Timestamps are floored to epoch seconds first so the
    operator and its oracle share integer instants.

    Boundary semantics MEASURED (not assumed): windows touching exactly
    at the boundary COALESCE — an event exactly gap seconds after the
    previous one stays in the session (split only on delta > gap), the
    same rule as the lag/cumsum twin; pinned by
    test_session_window_native_boundary_semantics. session_end converts
    back to last-event time (w.end - gap), exact integer arithmetic."""
    sec = F.timestamp_seconds(F.unix_timestamp("ts"))
    ev = events.select(F.col("user_id").cast("string").alias("key"), sec.alias("tss"))
    out = ev.groupBy(
        "key", F.session_window("tss", f"{SESSION_GAP_SECONDS} seconds").alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return out.select(
        "key",
        F.unix_timestamp("w.start").alias("session_start"),
        (F.unix_timestamp("w.end") - F.lit(SESSION_GAP_SECONDS)).alias("session_end"),
        "n_events",
    )


def events_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel (sequential pattern matching): per user,
    the earliest view, the earliest click strictly AFTER
    it, and the earliest purchase strictly after that — plus the
    reached stage. The first-touch attribution semantics analytics
    engines express with MATCH_RECOGNIZE.

    Scale shape: three map-side-partial min-aggregations chained by
    equi-joins, everything keyed on user_id so AQE reuses the
    partitioning; timestamps compare as exact integer microseconds
    (TIMESTAMP_NTZ cast first — unix_micros on NTZ shifts by the session
    zone)."""
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", F.col("event_type").alias("et"), t.alias("t"))
    s1 = ev.where(F.col("et") == "view").groupBy("user_id").agg(F.min("t").alias("t1"))
    s2 = (
        ev.where(F.col("et") == "click")
        .join(s1, "user_id")
        .where(F.col("t") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        ev.where(F.col("et") == "purchase")
        .join(s2, "user_id")
        .where(F.col("t") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("stage"),
        )
    )


def events_sliding_windows(events: DataFrame) -> DataFrame:
    """SLIDING-window rollup per event type via Spark's native
    window(ts, 1 hour, 30 minutes): each event lands in 2
    overlapping windows (epoch-aligned starts). Counts and the DECIMAL-
    exact value sums follow the tumbling twin's determinism rules (sum
    in DECIMAL, one cast to DOUBLE at the boundary).

    Scale shape: the window function EXPANDS each row into its
    window/slide memberships before the map-side-partial aggregation —
    one shuffle on (window, type), fan-out factor window/slide (2 here)."""
    sec = F.timestamp_seconds(F.unix_timestamp("ts"))
    return (
        events.select(
            sec.alias("tss"), "event_type", F.col("value").cast("decimal(18,2)").alias("v")
        )
        .groupBy(
            F.window("tss", "3600 seconds", "1800 seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )


def events_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: (cohort_day, day_offset, n_users) — users
    whose FIRST event fell on cohort_day and who were active day_offset
    days later. The classic warehouse retention triangle.

    Scale shape: activity dedupes to the (user, day) level FIRST (one
    shuffle; map-side partial distinct), so the per-(cohort, offset) user
    count is a plain COUNT(*) — a user contributes at most one row per
    day — never a COUNT DISTINCT expand. The cohort table is one row per
    user joined back on user_id (shuffle equi-join; both sides already
    narrow). Dates and integer offsets only — exact, hash-gateable.

    The (user, day) level feeds BOTH the cohort aggregate and the join
    (AQE's broadcast conversion breaks exchange-reuse symmetry, so without
    a materialization the corpus-sized distinct ran twice — the fan-out
    trap, caught by plan audit); localCheckpoint pins it to one pass."""
    ud = (
        events.select(F.col("user_id"), F.to_date("ts").alias("d"))
        .distinct()
        .localCheckpoint()
    )
    cohort = ud.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ud.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def events_moving_stats(events: DataFrame) -> DataFrame:
    """Per-user ROWS-frame moving aggregate: for each event (ordered by
    ts, event_id within user), the count and value-sum of the trailing
    MOVING_FRAME_ROWS-row frame — the sliding-window-over-ordered-rows surface
    (ROWS BETWEEN n PRECEDING AND CURRENT ROW) the lag/row_number and
    session-window operators don't exercise.

    Determinism: the frame sum is DECIMAL-exact per the cross-row rule (a
    double sum's value depends on reduction order), cast to DOUBLE once at
    the output boundary — both engines round identically. Scale shape: one
    Exchange on user_id + a per-user spillable sort; the running frame is
    maintained incrementally (O(1) per row), never recomputed per frame."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-(MOVING_FRAME_ROWS - 1), 0)
    )
    v = F.col("value").cast("decimal(18,2)")
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("int").alias("frame_n"),
        F.sum(v).over(w).cast("decimal(38,2)").cast("double").alias("moving_sum"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Clickstream transition matrix: counts of consecutive
    (from_type -> to_type) steps within each user's time-ordered event
    sequence — the Markov-chain view funnels and session analyses start
    from. Order is (unix_micros, event_id): micros ints with an id
    tie-break, so the sequence (and therefore every count) is
    deterministic under same-timestamp events at any parallelism.

    One shuffle to order per user (window lag), one map-side-partial
    rollup to the #types^2-row matrix."""
    from pyspark.sql import Window

    # TIMESTAMP_NTZ cast first — unix_micros on NTZ shifts by the session tz
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(t, F.col("event_id"))
    prev = F.lag("event_type").over(w)
    return (
        events.select("user_id", "event_id", "ts", "event_type")
        .select(prev.alias("from_type"), F.col("event_type").alias("to_type"))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def scd2_build(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 table from the event stream:
    consecutive runs of the same event_type per user collapse into
    validity intervals [valid_from_us, valid_to_us) with the run's event
    count; the open interval (valid_to_us NULL) is the current state.
    Event order is the pinned (unix_micros, event_id) contract shared
    with event_transitions.

    Scale shape: ONE shuffle. The change-flag lag window partitions by
    user_id; the run groupBy's keys are a superset of user_id so the
    hash partitioning is reused (no second Exchange), and the lead
    window runs over the already-partitioned RUN rows (orders of
    magnitude fewer than events)."""
    from pyspark.sql import Window

    # TIMESTAMP_NTZ cast first — unix_micros on NTZ shifts by the session tz
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = events.select("user_id", "event_id", "event_type", t.alias("us"))
    seg = base.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("seg", F.sum("chg").over(w))
    runs = seg.groupBy("user_id", "seg", "event_type").agg(
        F.min("us").alias("valid_from_us"), F.count(F.lit(1)).alias("n_events")
    )
    # order runs by seg (the per-user run index) — valid_from_us alone can
    # tie when a run boundary splits two same-microsecond events
    w2 = Window.partitionBy("user_id").orderBy("seg")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        "n_events",
    ).withColumn("is_current", F.col("valid_to_us").isNull())


# epoch micros of 2024-02-01T00:00:00 UTC — the fixed decay anchor just
# past the synthetic event range; a literal so both engines share it
DECAY_ANCHOR_US = 1706745600000000
DECAY_AGE_CAP_DAYS = 40


def events_decay(events: DataFrame) -> DataFrame:
    """Exponentially-decayed event counts per type with EXACT integer
    weights: weight = 2^(cap - min(age_periods, cap)) where one period is
    one day and the age counts back from DECAY_ANCHOR_US. Float decay
    (pow/exp) is libm territory and a double sum is reduction-order
    dependent — neither can hash-gate; the power-of-two BIGINT recurrence
    gives the same half-life ranking with an order-independent exact sum
    (the integer-exact PageRank precedent).

    Decayed weight relative: newest-possible event (age 0) weighs 2^cap;
    divide by 2^cap downstream for the [0,1] scale. Sum bound: n_events *
    2^cap must stay under 2^63 — cap DECAY_AGE_CAP_DAYS = 40 leaves room
    for ~4e6 max-weight events per group. One map-side-partial shuffle on
    event_type."""
    # shiftleft's shift must be an expression here (a pyspark literal-only
    # parameter), and the age floor is integer `div` — never float division.
    # The age is bracketed into [0, DECAY_AGE_CAP_DAYS]: an event AFTER the anchor
    # would give a negative age, pushing the shift past 63 where Spark
    # silently wraps mod 64 while DuckDB raises (and // vs div floor
    # semantics diverge on negatives) — greatest(..., 0) pins both engines
    w = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {DECAY_AGE_CAP_DAYS} - least(greatest("
        f"({DECAY_ANCHOR_US} - unix_micros(CAST(ts AS TIMESTAMP))) div 86400000000, "
        f"CAST(0 AS BIGINT)), CAST({DECAY_AGE_CAP_DAYS} AS BIGINT)))"
    )
    return (
        events.select("event_type", w.alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w").alias("decayed_weight"),
            F.max("w").alias("max_weight"),
        )
    )


def events_attribution(events: DataFrame) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent view or click by the same user within the 7-day lookback window
    (same-microsecond touches qualify; ties between touches break to the
    larger event_id), conversions with no touch in window credit 'none'.
    Output: (attributed_type, n_conversions, total_value) with the value
    sum DECIMAL-exact and cast to DOUBLE once at the boundary.

    Scale shape: the asof_join union + carry-forward window — ONE
    Exchange on user_id; kind=0 sorts touches before same-instant
    conversions so the carried state is correct at ties. The oracle
    recomputes independently via join-then-rank."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.select(
        "user_id", "event_id", "event_type", us.alias("us"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    touches = base.where(F.col("event_type").isin("view", "click")).select(
        "user_id", "us", "event_id",
        F.lit(0).alias("kind"),
        F.col("event_type").alias("touch_type"),
        F.lit(None).cast("decimal(18,2)").alias("value"),
    )
    convs = base.where(F.col("event_type") == "purchase").select(
        "user_id", "us", "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("touch_type"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        touches.unionByName(convs)
        .select(
            "*",
            F.last("touch_type", ignorenulls=True).over(w).alias("last_touch"),
            F.last(
                F.when(F.col("kind") == 0, F.col("us")), ignorenulls=True
            ).over(w).alias("last_touch_us"),
        )
        .where(F.col("kind") == 1)
    )
    window_us = 7 * 86_400_000_000
    attributed = F.when(
        F.col("last_touch_us").isNotNull()
        & (F.col("us") - F.col("last_touch_us") <= window_us),
        F.col("last_touch"),
    ).otherwise(F.lit("none"))
    return (
        carried.select(attributed.alias("attributed_type"), "value")
        .groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
    )


def scd2_lookup(events: DataFrame) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension scd2_build derives
    from the signup/purchase sub-stream: every view or click probe is matched to the
    dimension interval covering its timestamp (valid_from_us <= t <
    valid_to_us, open interval = current), probes before the user's first
    dimension row report state 'none'. Output: (probe_type, state_type,
    n_probes).

    Scale shape: NOT a range join — dimension rows and probes union into
    ONE per-user carry-forward window (the asof_join strategy), so one
    Exchange regardless of dimension churn. Tie contracts: a dimension
    change at the probe's exact microsecond applies (kind sorts dim rows
    first); two runs starting on the same microsecond order by
    valid_to_us NULLS LAST, so the zero-length [t, t) run a same-instant
    boundary produces is superseded — exactly the rows the half-open
    range predicate in the oracle excludes."""
    from pyspark.sql import Window

    long_max = (1 << 63) - 1
    dim = scd2_build(events.where(F.col("event_type").isin("signup", "purchase"))).select(
        "user_id",
        F.col("valid_from_us").alias("us"),
        F.lit(0).alias("kind"),
        F.coalesce("valid_to_us", F.lit(long_max)).alias("tie"),
        F.col("event_type").alias("state"),
        F.lit(None).cast("string").alias("probe_type"),
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    probes = events.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        us.alias("us"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("tie"),
        F.lit(None).cast("string").alias("state"),
        F.col("event_type").alias("probe_type"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        dim.unionByName(probes)
        .select("*", F.last("state", ignorenulls=True).over(w).alias("carried_state"))
        .where(F.col("kind") == 1)
    )
    return (
        carried.select(
            "probe_type", F.coalesce("carried_state", F.lit("none")).alias("state_type")
        )
        .groupBy("probe_type", "state_type")
        .agg(F.count(F.lit(1)).alias("n_probes"))
    )


def events_resample(events: DataFrame) -> DataFrame:
    """Gap-filled time-series resample: tumbling-window rollup per event
    type (the event_type_windows contract) densified so every bucket
    between a type's first and last event exists, empty buckets
    zero-filled. Output (event_type, window_start epoch seconds,
    n_events, total_value).

    Scale shape: the fact stream collapses to bucket granularity in ONE
    map-side-partial aggregation; the spine (sequence + explode over each
    type's [min, max] bucket range) and the fill join both run at bucket
    granularity — #types x #buckets rows, orders of magnitude below the
    fact table, so the extra join never touches fact-sized data. The
    DECIMAL sum casts to DOUBLE once at the boundary (determinism rules,
    oracle.py header); fill value 0.0 is exact in both engines."""
    epoch = F.unix_timestamp("ts")
    bucket = (epoch - epoch % WINDOW_SECONDS).alias("window_start")
    # the bucket rollup feeds TWO consumers (spine range + fill join) and
    # Catalyst has no cross-branch CSE — without materializing, the whole
    # fact-table scan + shuffle re-runs per consumer (fan-out-reuse rule;
    # the frame is tiny: #types x #buckets rows)
    agg = (
        events.select("event_type", bucket, F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("event_type", "window_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("decimal(38,2)").cast("double").alias("tv"),
        )
        .localCheckpoint()
    )
    spine = (
        agg.groupBy("event_type")
        .agg(F.min("window_start").alias("mn"), F.max("window_start").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.lit(WINDOW_SECONDS))).alias("window_start"),
        )
    )
    return spine.join(agg, ["event_type", "window_start"], "left").select(
        "event_type",
        "window_start",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("tv", F.lit(0.0)).alias("total_value"),
    )


def events_new_users(events: DataFrame) -> DataFrame:
    """User-acquisition curve: per day bucket, how many users appear for
    the FIRST time anywhere in the stream, plus the running cumulative.
    Output (window_start, new_users, cum_users).

    Scale shape: cumulative-distinct-over-time is the classic trap (a
    COUNT(DISTINCT) per window rescans the stream per bucket); first-seen
    reduction makes it linear — one groupBy(user) min(ts), one bucket
    count, then a running sum over #buckets rows. The final window is
    unpartitioned by construction (a cumulative curve is a global
    ordering) but runs over bucket-count rows only."""
    from pyspark.sql import Window

    epoch = F.unix_timestamp("ts")
    first_seen = events.groupBy("user_id").agg(F.min(epoch).alias("e"))
    per_bucket = (
        first_seen.select((F.col("e") - F.col("e") % 86400).alias("window_start"))
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("window_start").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_bucket.select(
        "window_start", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


def events_anomaly(events: DataFrame) -> DataFrame:
    """Trailing z-score anomaly detection on the hourly event-rate series:
    for each (event_type, bucket), compare the bucket count against the
    mean/std of the previous 24 buckets (current excluded). Output
    (event_type, window_start, n_events, zscore, is_anomaly); zscore is
    NULL when history < 8 buckets or the history is constant, and
    is_anomaly flags |zscore| >= 3.

    Runs over the GAP-FILLED resample (events_resample) so the trailing
    ROWS frame is a true time window — with gaps, "previous 24 rows"
    silently spans more than 24 hours and quiet periods vanish from the
    baseline. Determinism: the trailing frame keeps exact BIGINT moments
    (sum, sum of squares); mean / variance / sqrt / the z division are
    each single-rounded IEEE in a shared op order (the
    lang_length_regression contract), so the DOUBLEs hash-gate.

    Scale shape: one partitioned window per type over bucket-count rows —
    the fact table collapsed in events_resample's single aggregation."""
    from pyspark.sql import Window

    series = events_resample(events).select("event_type", "window_start", "n_events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-24, -1)
    )
    x = F.col("n_events")
    staged = series.select(
        "event_type",
        "window_start",
        "n_events",
        F.count(F.lit(1)).over(w).alias("h_n"),
        F.sum(x).over(w).alias("h_s"),
        F.sum(x * x).over(w).alias("h_ss"),
    )
    n, s, ss = F.col("h_n"), F.col("h_s"), F.col("h_ss")
    var_num = n * ss - s * s
    mean = s.cast("double") / n.cast("double")
    var = var_num.cast("double") / (n * (n - F.lit(1))).cast("double")
    z = F.when(
        (n >= 8) & (var_num > F.lit(0)),
        (x.cast("double") - mean) / F.sqrt(var),
    )
    return staged.select(
        "event_type",
        "window_start",
        "n_events",
        z.alias("zscore"),
        F.when(z.isNotNull(), F.abs(z) >= F.lit(3.0)).alias("is_anomaly"),
    )


TIME_PYRAMID_LEVELS: tuple[tuple[str, int], ...] = (
    ("hour", 3600),
    ("day", 86400),
    ("week", 604800),
)


def events_time_pyramid(events: DataFrame) -> DataFrame:
    """Multi-granularity time rollup in ONE pass (the geohash_pyramid
    pattern applied to time): each event explodes into one (level, bucket)
    struct per granularity, then a single aggregation produces every level
    — never one job per level. Output (level, window_start, n_events,
    total_value). Buckets are pure epoch integer arithmetic (epoch-aligned;
    the week bucket is the epoch week starting Thursday 1970-01-01).

    Scale shape: the explode widens the fact stream x #levels (3) but
    map-side partial aggregation collapses it before the single shuffle —
    vs #levels full scans for the naive loop. DECIMAL-exact sums, one
    DOUBLE cast at the boundary."""
    epoch = F.unix_timestamp("ts")
    lv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("level"),
                    (epoch - epoch % F.lit(sec)).alias("window_start"),
                )
                for name, sec in TIME_PYRAMID_LEVELS
            ]
        )
    ).alias("lv")
    return (
        events.select(lv, F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy(F.col("lv.level").alias("level"), F.col("lv.window_start").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
    )


def session_paths(events: DataFrame) -> DataFrame:
    """Clickstream path analysis: the first 3 event types of each
    gap-session, joined as a path string, counted across all sessions —
    the 'how do journeys start' funnel-discovery view. Output (path,
    n_sessions). Event order is the pinned (unix_micros, event_id)
    contract; sessions split on gap > SESSION_GAP_SECONDS (the user_sessions
    boundary rule: a delta equal to the gap MERGES).

    Scale shape: one shuffle on user_id (window sessionization + the
    grouped collect share the partitioning), then a path-level count;
    collect_list holds one session's events (bounded by session length,
    the same bound stateful sessionization carries)."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    ev = events.select("user_id", "event_id", "event_type", us.alias("us"))
    sess = ev.select(
        "*",
        F.sum(
            F.when(F.col("us") - F.lag("us").over(w) > gap_us, 1).otherwise(0)
        ).over(w).alias("sid"),
    )
    path = F.array_join(
        F.transform(
            F.slice(F.sort_array(F.collect_list(F.struct("us", "event_id", "event_type"))), 1, 3),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return (
        sess.groupBy("user_id", "sid")
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


def props_k_stats_variant(events: DataFrame) -> DataFrame:
    """props_k_stats computed through Spark 4's VARIANT type
    (parse_json -> variant_get) instead of the string-path
    get_json_object — the semi-structured ingestion surface an
    Iceberg-era lakehouse standardizes on: parse once into the binary
    variant encoding, then typed path extraction (no per-access JSON
    re-parse when multiple fields are pulled). Same output contract as
    props_k_stats, so the two surfaces are directly comparable (and
    pinned equal in pytest)."""
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct("k").alias("k_distinct"),
        )
    )


def events_window_users(events: DataFrame) -> DataFrame:
    """Exact distinct users + events per tumbling window: (window_start,
    n_users, n_events). The (user, window)-level aggregation comes FIRST
    so the distinct-user count is a plain COUNT(*) (the repo-wide rule —
    never a COUNT DISTINCT expand over the fact stream); both shuffles
    move pre-aggregated rows."""
    epoch = F.unix_timestamp("ts")
    per_user = (
        events.select((epoch - epoch % WINDOW_SECONDS).alias("window_start"), "user_id")
        .groupBy("window_start", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_user.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("n").cast("bigint").alias("n_events")
    )


def conversion_latency(events: DataFrame) -> DataFrame:
    """Per-user conversion latency: first view event, then the
    first purchase event at-or-after it (exact micros integers —
    same-instant conversions count, the asof non-strict convention).
    Output (user_id, first_from_us, first_to_us, latency_us); users who
    never convert are omitted (inner semantics — the denominator lives in
    events_funnel).

    Scale shape: one conditional aggregation to per-user first-from, then
    a user-keyed join + min over the to-events — both at user
    granularity after map-side partials. No windows, no per-user sort."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    first_from = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("first_from_us"))
    )
    to_ev = events.where(F.col("event_type") == "purchase").select("user_id", us.alias("to_us"))
    return (
        to_ev.join(first_from, "user_id")
        .where(F.col("to_us") >= F.col("first_from_us"))
        .groupBy("user_id", "first_from_us")
        .agg(F.min("to_us").alias("first_to_us"))
        .select(
            "user_id",
            "first_from_us",
            "first_to_us",
            (F.col("first_to_us") - F.col("first_from_us")).alias("latency_us"),
        )
    )


def events_stickiness(events: DataFrame) -> DataFrame:
    """DAU / trailing-MAU stickiness per day: (day_start, dau, mau,
    stickiness) where mau counts distinct users over the trailing
    STICKINESS_WINDOW_DAYS ending at each observed day, and stickiness =
    dau/mau (ONE single-rounded division on exact counts).

    Scale shape: the fact stream collapses to DISTINCT (user, day) rows
    first; the rolling-distinct then comes from exploding each user-day
    to the <= STICKINESS_WINDOW_DAYS future day-buckets it supports (bounded x30
    expansion of the ALREADY-DEDUPED user-day table, orders of magnitude
    under the fact table) and counting per (user, target-day) dedupe with
    COUNT(*) — never a per-day COUNT DISTINCT rescan of the stream. Days
    with no events have no row (this is an observed-day report, not a
    gap-filled series — compose with events_resample for that)."""
    day = 86400
    epoch = F.unix_timestamp("ts")
    user_days = (
        events.select("user_id", (epoch - epoch % day).alias("d"))
        .distinct()
        .localCheckpoint()  # feeds DAU, the MAU expansion and the observed-day set
    )
    observed = user_days.select("d").distinct()
    dau = user_days.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    expanded = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + F.lit((STICKINESS_WINDOW_DAYS - 1) * day), F.lit(day))
            ).alias("d"),
        )
        .join(observed, "d")          # only observed days need a MAU value
        .distinct()                   # (user, target-day) level
    )
    mau = expanded.groupBy("d").agg(F.count(F.lit(1)).alias("mau"))
    return (
        dau.join(mau, "d")
        .select(
            F.col("d").alias("day_start"),
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias("stickiness"),
        )
    )


def events_seasonality(events: DataFrame) -> DataFrame:
    """Hour-of-day seasonality profile per event type: (event_type,
    hour_of_day, n_events, frac_of_type) — the diurnal-shape view
    capacity planning and anomaly baselines start from. ONE map-side-
    partial aggregation at #types x 24 granularity; hour extraction is
    the UTC-pinned hour() (session timezone contract); frac is exact
    counts with one division per row of a tiny result."""
    from pyspark.sql import Window

    agg = (
        events.select("event_type", F.hour(F.col("ts").cast("timestamp")).alias("hour_of_day"))
        .groupBy("event_type", "hour_of_day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "hour_of_day",
        "n_events",
        (F.col("n_events").cast("double") / F.sum("n_events").over(tot).cast("double")).alias("frac_of_type"),
    )
