"""Structured Streaming ingestion for the pages pipeline.

The reference is strictly batch (SURVEY.md §2: no streaming, no watermarks)
— resumability there comes from checkpointing. The engine adds a streaming
ingestion path as a first-class source: the spatial join is stateless
(cell encode + broadcast cover join + PIP refine), so the batch operator
runs on a readStream DataFrame as is —
`spatial_join(stream, polygons, keep_cols=("warc_ts",))` for a polygon
list or a polygons table (a stream-static join); per-tile counts become a
watermarked windowed aggregation that tolerates late WARC timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cellgrid
from ..operators.tiles import DEFAULT_TILE_RES

PAGES_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
    ]
)


def stream_pages(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of page batches (parquet drops into input_dir).

    max_files_per_trigger bounds each micro-batch (honored by the
    available-now trigger too, which then drains in several batches —
    watermarks only advance BETWEEN micro-batches, so this is also how
    tests exercise real late-data eviction deterministically)."""
    reader = spark.readStream.schema(PAGES_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_tile_counts(
    joined: DataFrame,
    tile_res: int = DEFAULT_TILE_RES,
    watermark: str = "1 hour",
    window_size: str = "1 day",
) -> DataFrame:
    """Watermarked per-window, per-tile document counts (late WARC records
    beyond the watermark are dropped, on-time ones merge into their
    window's state)."""
    return (
        joined.withWatermark("warc_ts", watermark)
        .withColumn("tile_id", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), tile_res))
        .groupBy(F.window("warc_ts", window_size).alias("w"), F.col("tile_id"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(F.col("w.start").alias("window_start"), "tile_id", "doc_count")
    )


def stream_pages_rate(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate-shaped source: Spark's built-in `rate` stream mapped to synthetic
    pages. Every field is a pure function of the monotonically increasing
    `value` (the same md5-derived geotag scheme as sources/pages), so the
    content is deterministic per value and wall-clock independent — only the
    arrival TIMES come from the rate clock. This is the kafka-shaped
    ingestion stand-in for this sandbox (no broker available): swap
    `format("rate")` for `format("kafka")` + the same projection."""
    from ..sources.pages import _coord_sql

    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return (
        raw.select(
            F.concat(F.lit("https://rate.example/"), F.col("value").cast("string")).alias("url"),
            F.col("timestamp").alias("arrival_ts"),
        )
        .withColumn("uh", F.md5("url"))
        .withColumn("lat", F.expr(_coord_sql("uh", "lat")))
        .withColumn("lon", F.expr(_coord_sql("uh", "lon")))
        .withColumn(
            "warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.xxhash64("url") % 31536000)
        )
        .withColumn("text", F.concat(F.lit("rate page body for "), F.col("url")))
        .withColumn("lang", F.lit("en"))
        .drop("uh")
    )


def stream_exact_dedup(
    pages_stream: DataFrame, text_col: str = "text", watermark: str | None = "1 day"
) -> DataFrame:
    """Streaming exact dedup: first-seen row per content digest.

    First-seen-per-digest state; with a watermark the state is BOUNDED —
    `dropDuplicatesWithinWatermark` evicts digest keys once the watermark
    passes them (duplicates arriving later re-emit; the batch
    reconciliation pass catches those — the standard contract for
    streaming dedup at scale). watermark=None keeps exact state forever
    (tests / bounded backfills)."""
    digested = pages_stream.withColumn("digest", F.md5(F.col(text_col)))
    if watermark is not None:
        return (
            digested.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["digest"])
            .drop("digest")
        )
    return digested.dropDuplicates(["digest"]).drop("digest")


SESSION_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("session_start", T.LongType(), False),
        T.StructField("session_end", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

SESSION_STATE = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize_stateful(
    events: DataFrame,
    key_col: str = "key",
    ts_col: str = "warc_ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState.

    Events for a key belong to one session while consecutive gaps stay
    <= gap_seconds. Each micro-batch merges its (sorted) events into the
    open session carried in GroupState; every gap violation CLOSES a
    session and emits it downstream, and the trailing open session stays in
    state for the next batch (it is never emitted early — exactly-once
    session rows). Timestamps are epoch seconds in the output so the batch
    twin (sessionize_batch) is bit-comparable.

    Production posture: pair with a watermark on the event time and an
    EventTimeTimeout to flush long-idle keys; in availableNow drains (tests,
    backfills) NoTimeout keeps the final open session pending, which is the
    deterministic behaviour the stream==batch test pins.

    Timezone contract: Arrow hands the handler naive local-time
    timestamps while the batch twin uses unix_timestamp (true epoch) —
    identical when spark.sql.session.timeZone is UTC (this engine's
    default; gap LOGIC is offset-invariant either way, only the absolute
    session_start values shift)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = int(gap_seconds)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        ts_all = []
        for pdf in pdfs:
            col = pd.to_datetime(pdf[ts_col])
            ts_all.extend((col.astype("int64") // 1_000_000_000).tolist())
        ts_all.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in ts_all:
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap:
                last, n = max(last, t), n + 1
            else:
                closed.append((key[0], start, last, n))
                start, last, n = t, t, 1
        state.update((start, last, n))
        yield pd.DataFrame(closed, columns=["key", "session_start", "session_end", "n_events"])

    return events.groupBy(F.col(key_col).alias("key")).applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_batch(
    events: DataFrame,
    key_col: str = "key",
    ts_col: str = "warc_ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch twin of sessionize_stateful (lag + running session counter):
    returns ALL sessions, including each key's final one — the streaming
    operator holds that one open in state."""
    from pyspark.sql import Window

    ts_s = F.unix_timestamp(F.col(ts_col))
    marked = events.select(
        F.col(key_col).alias("key"), ts_s.alias("t")
    ).withColumn(
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


def run_available_now(stream_df: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"):
    """Drain everything currently available and stop (deterministic test /
    backfill trigger); the checkpoint makes re-runs incremental."""
    query = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_stream_interval_join(
    clicks_stream: DataFrame,
    views_stream: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join with a time-range condition: each click
    joins every view by the same user within the preceding `max_lag` —
    the canonical watermarked two-stream join (ad attribution shape).

    State posture (what makes this correct unbounded): BOTH sides are
    watermarked and the range condition bounds the join window, so Spark
    derives a state watermark per side and evicts buffered rows once no
    future input can match them — state is O(input within watermark+lag),
    not O(stream). Without the range bound (or with only one watermark)
    the views buffer would grow forever.

    Inputs must carry (user_id, ts, event_id[, value]); output keeps the
    click identity plus the matched view and the exact integer lag in
    seconds."""
    c = clicks_stream.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    v = views_stream.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {max_lag}"))
    )
    joined = c.join(v, cond)
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "view_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")).alias("lag_seconds"),
    )


def tile_state_merge_batch(state_dir: str, tile_res: int = DEFAULT_TILE_RES):
    """foreachBatch body for incremental tile-table maintenance: aggregate
    the micro-batch to per-tile deltas and merge them into the stored tile
    state (read state -> union + sum -> write to a fresh directory ->
    atomic rename swap).

    Idempotent under micro-batch REPLAY — the failure mode of every
    non-transactional foreachBatch sink: the applied batch_id is written
    INSIDE the swapped directory (`_applied_batch` sidecar), so data and
    marker move atomically and a replayed batch (same id after recovery)
    is skipped instead of double-counted. Only additive statistics live in
    the state (doc_count, total_chars) — distinct-style stats are not
    incrementally mergeable and belong to the batch rollups."""
    import os
    import shutil

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import glob

        spark = batch_df.sparkSession
        # crash recovery: a failure between the two swap renames leaves the
        # previous state parked as `._old_<id>` with no live state_dir —
        # restore the newest parked state before merging (the in-flight
        # batch replays on top of it); stale tmp dirs are just deleted.
        if not os.path.isdir(state_dir):
            parked = sorted(
                glob.glob(state_dir.rstrip("/") + "._old_*"),
                key=lambda p: int(p.rsplit("_", 1)[-1]),
            )
            if parked:
                os.rename(parked[-1], state_dir)
                for p in parked[:-1]:
                    shutil.rmtree(p, ignore_errors=True)
        for p in glob.glob(state_dir.rstrip("/") + "._tmp_*"):
            shutil.rmtree(p, ignore_errors=True)
        marker = os.path.join(state_dir, "_applied_batch")
        if os.path.isfile(marker):
            with open(marker) as fh:
                if int(fh.read().strip()) >= batch_id:
                    return  # replayed batch: already merged
        delta = (
            batch_df.withColumn(
                "tile_id", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), tile_res)
            )
            .groupBy("tile_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("doc_count"),
                F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            )
        )
        if os.path.isdir(state_dir):
            state = spark.read.parquet(state_dir)
            merged = (
                state.unionByName(delta)
                .groupBy("tile_id")
                .agg(
                    F.sum("doc_count").cast("bigint").alias("doc_count"),
                    F.sum("total_chars").cast("bigint").alias("total_chars"),
                )
            )
        else:
            merged = delta
        tmp = state_dir.rstrip("/") + f"._tmp_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_applied_batch"), "w") as fh:
            fh.write(str(batch_id))
        old = state_dir.rstrip("/") + f"._old_{batch_id}"
        if os.path.isdir(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    return merge_batch


def run_tile_merge_available_now(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    tile_res: int = DEFAULT_TILE_RES,
    max_files_per_trigger: int | None = None,
):
    """Drain all available page files into the incremental tile state via
    foreachBatch merge (see tile_state_merge_batch) and stop. The streaming
    counterpart of maintaining a materialized tile rollup: each new WARC
    drop updates the serving table without rescanning history."""
    pages = stream_pages(spark, input_dir, max_files_per_trigger)
    query = (
        pages.writeStream.foreachBatch(tile_state_merge_batch(state_dir, tile_res))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_warc(spark: SparkSession, path: str) -> DataFrame:
    """STREAMING WARC ingest: the same gzip-member walk + header parse as
    sources.warc.read_warc, but over readStream binaryFile — new crawl
    files landing in the directory become micro-batches; maxFilesPerTrigger
    bounds per-batch work at production scale. Stream == batch rows is
    pinned in tests."""
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.warc import WARC_OUT_SCHEMA, _split_members, parse_warc_record

    # streaming file sources require an explicit schema — binaryFile's is
    # fixed (path, modificationTime, length, content)
    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*.warc.gz")
        .load(path)
        .select("content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for member in _split_members(bytes(blob)):
                    url, ts_s, payload = parse_warc_record(member)
                    rows.append((url, ts_s, payload))
            yield pd.DataFrame(rows, columns=["url", "warc_ts_s", "html"])

    return files.mapInPandas(run, schema=WARC_OUT_SCHEMA)
