"""Streaming path: availableNow drain == batch result; incremental resume."""

import pytest


@pytest.fixture(scope="module")
def polygons():
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons

    return fixture_polygons()


def test_stream_join_matches_batch(spark, polygons, tmp_path):
    """The batch spatial_join runs on a readStream source as is."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_pages,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    in_dir = str(tmp_path / "in")
    pages.select("url", "warc_ts", "text", "lang", "lat", "lon").write.parquet(in_dir)

    stream = stream_pages(spark, in_dir)
    assert stream.isStreaming
    joined = spatial_join(stream, polygons, keep_cols=("warc_ts",))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(joined, out_dir, ckpt)

    got = {(r["url"], r["poly_id"]) for r in spark.read.parquet(out_dir).collect()}
    expected = {
        (r["url"], r["poly_id"]) for r in spatial_join(pages, polygons).collect()
    }
    assert got == expected and len(got) > 0

    # incremental: draining again with the same checkpoint adds nothing
    again = spatial_join(stream_pages(spark, in_dir), polygons, keep_cols=("warc_ts",))
    run_available_now(again, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == len(got)


def test_stream_join_table_matches_batch(spark, polygons, tmp_path):
    """Polygon-TABLE streaming join (stream-static, distributed cover) ==
    the batch join rows."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import (
        polygons_to_df,
        spatial_join,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_pages,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    in_dir = str(tmp_path / "in")
    pages.select("url", "warc_ts", "text", "lang", "lat", "lon").write.parquet(in_dir)
    joined = spatial_join(
        stream_pages(spark, in_dir), polygons_to_df(spark, polygons), keep_cols=("warc_ts",)
    )
    out_dir = str(tmp_path / "out")
    run_available_now(joined, out_dir, str(tmp_path / "ckpt"))
    got = {(r["url"], r["poly_id"]) for r in spark.read.parquet(out_dir).collect()}
    expected = {(r["url"], r["poly_id"]) for r in spatial_join(pages, polygons).collect()}
    assert got == expected and len(got) > 0


def test_stream_windowed_tile_counts(spark, polygons, tmp_path):
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_pages,
        stream_tile_counts,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    in_dir = str(tmp_path / "in")
    pages.select("url", "warc_ts", "text", "lang", "lat", "lon").write.parquet(in_dir)
    joined = spatial_join(stream_pages(spark, in_dir), polygons, keep_cols=("warc_ts",))
    counts = stream_tile_counts(joined)
    out_dir = str(tmp_path / "out")
    run_available_now(counts, out_dir, str(tmp_path / "ckpt"))
    rows = spark.read.parquet(out_dir).collect()
    assert sum(r["doc_count"] for r in rows) > 0
    assert all(r["window_start"] is not None for r in rows)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Custom stateful sessionization (applyInPandasWithState) == batch
    twin for all CLOSED sessions, including sessions that span micro-batch
    boundaries (second file drop continues a key's open session)."""
    from datetime import datetime, timezone

    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        sessionize_batch,
        sessionize_stateful,
    )

    def ts(s):
        return datetime.fromtimestamp(1704067200 + s, tz=timezone.utc)

    GAP = 60
    # key a: 3 sessions; key b: 2 sessions; session a2 spans the two drops
    drop1 = [("a", ts(0)), ("a", ts(30)), ("a", ts(200)), ("b", ts(0)), ("b", ts(10))]
    drop2 = [("a", ts(250)), ("a", ts(1000)), ("b", ts(500)), ("b", ts(520)), ("b", ts(9000))]
    schema = "key string, warc_ts timestamp"
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

    spark.createDataFrame(drop1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    run_available_now(sessionize_stateful(stream, gap_seconds=GAP), out_dir, ckpt)

    spark.createDataFrame(drop2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    run_available_now(sessionize_stateful(stream, gap_seconds=GAP), out_dir, ckpt)

    got = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch_all = sessionize_batch(
        spark.createDataFrame(drop1 + drop2, schema), gap_seconds=GAP
    ).collect()
    # the stream holds each key's FINAL session open in state
    last_start = {}
    for r in batch_all:
        last_start[r["key"]] = max(last_start.get(r["key"], -1), r["session_start"])
    expected = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_all
        if r["session_start"] != last_start[r["key"]]
    }
    assert got == expected
    # the cross-drop session (a: 200+250) must be ONE session of 2 events
    assert ("a", 1704067200 + 200, 1704067200 + 250, 2) in got


def test_rate_source_deterministic_content(spark):
    """Rate-shaped ingestion: field values are a pure function of `value`
    (wall-clock only controls arrival), verified against the batch
    derivation for whatever rows arrive."""
    import time

    from openaip_yaixm_to_geojson_spark.sources.pages import _coord_sql
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import stream_pages_rate

    stream = stream_pages_rate(spark, rows_per_second=500)
    assert stream.isStreaming
    q = stream.writeStream.format("memory").queryName("rate_pages").outputMode("append").start()
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.sql("SELECT COUNT(*) c FROM rate_pages").first()["c"] >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM rate_pages").collect()
    assert len(rows) >= 100
    # recompute lat/lon/warc_ts from url with the batch expressions
    from pyspark.sql import functions as F

    urls = spark.createDataFrame([(r["url"],) for r in rows], "url string")
    ref = {
        r["url"]: (r["lat"], r["lon"], r["warc_ts"])
        for r in urls.withColumn("uh", F.md5("url"))
        .withColumn("lat", F.expr(_coord_sql("uh", "lat")))
        .withColumn("lon", F.expr(_coord_sql("uh", "lon")))
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.xxhash64("url") % 31536000))
        .collect()
    }
    for r in rows:
        assert (r["lat"], r["lon"], r["warc_ts"]) == ref[r["url"]]


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming first-seen-per-digest == batch distinct digest set, and
    the second drain with the same checkpoint adds nothing."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_exact_dedup,
        stream_pages,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    # force duplicates: union the table with itself under different urls
    dup = pages.withColumn("url", F.concat(F.lit("copy-"), F.col("url")))
    both = pages.unionByName(dup).select("url", "warc_ts", "text", "lang", "lat", "lon")
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    both.write.parquet(in_dir)

    deduped = stream_exact_dedup(stream_pages(spark, in_dir), watermark=None)
    run_available_now(deduped, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    n_batch_distinct = both.select(F.md5("text")).distinct().count()
    assert got.count() == n_batch_distinct
    assert got.select(F.md5("text")).distinct().count() == n_batch_distinct

    run_available_now(stream_exact_dedup(stream_pages(spark, in_dir), watermark=None), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n_batch_distinct

    # watermarked variant compiles into a streaming plan and drains
    wm_out, wm_ckpt = str(tmp_path / "wm_out"), str(tmp_path / "wm_ckpt")
    run_available_now(stream_exact_dedup(stream_pages(spark, in_dir)), wm_out, wm_ckpt)
    assert spark.read.parquet(wm_out).count() >= n_batch_distinct


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path):
    """Pin the real late-data eviction semantics (Spark's no-data-batch
    design): the late-events filter uses the watermark entering the
    PREVIOUS micro-batch, one batch behind the eviction watermark — so a
    row is provably dropped only once the watermark established two
    batches earlier has passed its window. Three mtime-ordered single-file
    batches (maxFilesPerTrigger=1): batch 0 seeds windows and drags the
    watermark, batch 1 advances it again (evicting+emitting the Jan-1
    window), batch 2 carries a row behind the batch-1 late-filter
    watermark. If that row were merged instead of dropped it would re-open
    the already-evicted Jan-1 window and append-mode would emit a
    DUPLICATE (Jan-1, 1) row."""
    import os
    import time
    from datetime import datetime as d

    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_pages,
        stream_tile_counts,
    )

    in_dir = str(tmp_path / "in")

    def write_batch(rows, mtime):
        df = spark.createDataFrame(
            [(u, t, "body", "en", 47.0, 11.0) for u, t in rows],
            "url string, warc_ts timestamp, text string, lang string, lat double, lon double",
        )
        df.coalesce(1).write.mode("append").parquet(in_dir)
        for name in os.listdir(in_dir):
            p = os.path.join(in_dir, name)
            if os.path.getmtime(p) > mtime:
                os.utime(p, (mtime, mtime))

    now = time.time()
    # b0: Jan-1 window + a row dragging the watermark to Jan-4 23:30
    write_batch([("a", d(2024, 1, 1, 12)), ("b", d(2024, 1, 5, 0, 30))], now - 300)
    # b1: watermark -> Jan-9 23:00; eviction wm Jan-4 23:30 emits (Jan-1, 1)
    write_batch([("c", d(2024, 1, 10, 0))], now - 200)
    # b2: late-filter wm is now Jan-4 23:30 -> the Jan-1 06:00 row is
    # DROPPED; eviction wm Jan-9 23:00 emits (Jan-5, 1)
    write_batch([("late", d(2024, 1, 1, 6)), ("e", d(2024, 1, 12, 0))], now - 100)

    counts = stream_tile_counts(
        stream_pages(spark, in_dir, max_files_per_trigger=1),
        watermark="1 hour",
        window_size="1 day",
    )
    out_dir = str(tmp_path / "out")
    query = run_available_now(counts, out_dir, str(tmp_path / "ckpt"))
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in query.recentProgress
    )
    assert dropped == 1  # exactly the behind-watermark row
    got = sorted(
        (r["window_start"].day, r["doc_count"])
        for r in spark.read.parquet(out_dir).collect()
    )
    # multiset: a merged (not dropped) late row would re-open the evicted
    # Jan-1 window and duplicate its append-mode emission
    assert got == [(1, 1), (5, 1), (10, 1)]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked STREAM-STREAM join (both sides streaming, range-bounded
    state): drained result must equal the identical batch join."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_stream_interval_join,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    c_dir, v_dir = str(tmp_path / "clicks"), str(tmp_path / "views")
    clicks.write.parquet(c_dir)
    views.write.parquet(v_dir)

    schema = "event_id bigint, user_id bigint, ts timestamp"
    cs = spark.readStream.schema(schema).parquet(c_dir)
    vs = spark.readStream.schema(schema).parquet(v_dir)
    out_dir = str(tmp_path / "out")
    run_available_now(
        stream_stream_interval_join(cs, vs), out_dir, str(tmp_path / "ckpt")
    )
    got = spark.read.parquet(out_dir)

    batch = (
        clicks.alias("c")
        .join(
            views.alias("v"),
            (F.col("c.user_id") == F.col("v.user_id"))
            & (F.col("v.ts") <= F.col("c.ts"))
            & (F.col("v.ts") >= F.col("c.ts") - F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.event_id").alias("click_id"),
            F.col("v.event_id").alias("view_id"),
            (F.unix_timestamp("c.ts") - F.unix_timestamp("v.ts")).alias("lag_seconds"),
        )
    )
    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_incremental_tile_merge_matches_batch(spark, tmp_path):
    """foreachBatch tile-state maintenance: three single-file micro-batches
    merged incrementally equal one batch recompute over all pages; a
    replayed batch id is skipped (idempotent), and a later drop keeps
    merging without rescanning history."""
    import os

    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.operators.tiles import DEFAULT_TILE_RES
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_tile_merge_available_now,
        tile_state_merge_batch,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").select(
        "url", "warc_ts", "text", "lang", "lat", "lon"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    parts = pages.limit(300).collect()
    splits = [parts[:100], parts[100:200], parts[200:]]
    for i, chunk in enumerate(splits[:2]):  # first two drops
        df = spark.createDataFrame(chunk, pages.schema)
        df.coalesce(1).write.parquet(str(in_dir / f"drop{i}"))
        os.utime(str(in_dir / f"drop{i}"), (1700000000 + i, 1700000000 + i))

    state = str(tmp_path / "tile_state")
    ckpt = str(tmp_path / "ckpt")
    run_tile_merge_available_now(
        spark, str(in_dir) + "/*", state, ckpt, max_files_per_trigger=1
    )

    def batch_expect(rows):
        df = spark.createDataFrame(rows, pages.schema)
        return {
            r["tile_id"]: (r["doc_count"], r["total_chars"])
            for r in df.withColumn(
                "tile_id", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_TILE_RES)
            )
            .groupBy("tile_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("doc_count"),
                F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            )
            .collect()
        }

    read_state = lambda: {  # noqa: E731
        r["tile_id"]: (r["doc_count"], r["total_chars"])
        for r in spark.read.parquet(state).collect()
    }
    assert read_state() == batch_expect(parts[:200])

    # replayed batch id: marker inside the state dir makes it a no-op
    applied = int(open(os.path.join(state, "_applied_batch")).read())
    stale = spark.createDataFrame(splits[0], pages.schema)
    tile_state_merge_batch(state)(stale, applied)
    assert read_state() == batch_expect(parts[:200])

    # third drop: incremental merge, still equal to the full recompute
    df3 = spark.createDataFrame(splits[2], pages.schema)
    df3.coalesce(1).write.parquet(str(in_dir / "drop2"))
    os.utime(str(in_dir / "drop2"), (1700000002, 1700000002))
    run_tile_merge_available_now(
        spark, str(in_dir) + "/*", state, ckpt, max_files_per_trigger=1
    )
    assert read_state() == batch_expect(parts)


def test_tile_merge_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves the previous state
    parked as ._old_<id> with no live state dir; the next merge must
    restore it (no silent data loss) before applying its batch."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        tile_state_merge_batch,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").select(
        "url", "warc_ts", "text", "lang", "lat", "lon"
    )
    rows = pages.limit(120).collect()
    state = str(tmp_path / "state")
    merge = tile_state_merge_batch(state)

    merge(spark.createDataFrame(rows[:60], pages.schema), 0)
    snapshot = {
        r["tile_id"]: (r["doc_count"], r["total_chars"])
        for r in spark.read.parquet(state).collect()
    }
    # simulate the mid-swap crash: state parked aside, plus a stale tmp
    os.rename(state, state + "._old_1")
    shutil.copytree(state + "._old_1", state + "._tmp_1")

    merge(spark.createDataFrame(rows[60:], pages.schema), 1)
    got = {
        r["tile_id"]: (r["doc_count"], r["total_chars"])
        for r in spark.read.parquet(state).collect()
    }
    # equal to merging both halves cleanly (batch 0 state recovered)
    expect_df = spark.createDataFrame(rows, pages.schema)
    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.operators.tiles import DEFAULT_TILE_RES

    expect = {
        r["tile_id"]: (r["doc_count"], r["total_chars"])
        for r in expect_df.withColumn(
            "tile_id", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_TILE_RES)
        )
        .groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .collect()
    }
    assert got == expect and snapshot  # recovered + merged, nothing lost
    assert not os.path.isdir(state + "._old_1") and not os.path.isdir(state + "._tmp_1")


def test_stream_warc_equals_batch(spark, tmp_path):
    """Streaming WARC ingest drains the same rows the batch reader
    extracts (url + ts + byte-identical html), via availableNow."""
    from openaip_yaixm_to_geojson_spark.sources.warc import read_warc, write_warc_dir
    from openaip_yaixm_to_geojson_spark.streaming.pages_stream import (
        run_available_now,
        stream_warc,
    )

    d = str(tmp_path / "warc_in")
    write_warc_dir(d, n_files=3, records_per_file=4)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(stream_warc(spark, d), out_dir, ckpt)
    got = {
        (r["url"], r["warc_ts_s"], bytes(r["html"]))
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["url"], r["warc_ts_s"], bytes(r["html"]))
        for r in read_warc(spark, d).collect()
    }
    assert got == want and len(got) == 12
