"""Bucketed, co-located spatial joins (both-sides-huge regime).

The broadcast cover join handles the common case (polygon side fits in
memory). When BOTH sides are huge — 10^12 pages against millions of
polygons whose cover no longer broadcasts — pre-bucketing both tables on
the cell key lets Spark sort-merge join them with ZERO exchanges: each
bucket pair joins locally. This module writes/reads bucketed tables via
the session catalog and exposes the co-located join; the test suite
asserts the join plan contains no Exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cellgrid
from ..operators.spatial import (
    DEFAULT_JOIN_RES,
    OUT_COLS,
    polygon_cover,
    winding_col,
)


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 16) -> None:
    """Persist a table bucketed+sorted on `cell`, the join key (Iceberg-style
    layout substitute: catalog-managed parquet with bucket metadata).

    Drops any previous incarnation first: with the default in-memory
    catalog a table directory can survive from an earlier session without
    a catalog entry, and saveAsTable refuses such orphan locations. The
    location to clear is the catalog's reported one when the table is
    registered; only for true orphans (directory with no catalog entry) is
    it derived from the warehouse dir, with the uri scheme stripped via
    urlparse (never str.replace, which would mangle 'file:' mid-path), and
    only file-scheme locations are ever rmtree'd."""
    import shutil
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession

    def _local_path(uri: str) -> str | None:
        parsed = urlparse(uri)
        if parsed.scheme in ("", "file"):
            return unquote(parsed.path) or uri
        return None

    location = None
    if spark.catalog.tableExists(table):
        rows = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
            .where(F.col("col_name") == "Location")
            .collect()
        )
        if rows:
            location = _local_path(rows[0]["data_type"])
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if location is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        wh_path = _local_path(warehouse)
        if wh_path is not None:
            location = os.path.join(wh_path, table.lower())
    if location is not None and os.path.exists(location):
        shutil.rmtree(location, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_pages(spark: SparkSession, pages: DataFrame, table: str = "pages_bucketed",
                   n_buckets: int = 16) -> DataFrame:
    """Pages with their DEFAULT_JOIN_RES `cell`, bucketed on it."""
    cells = pages.withColumn("cell", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_JOIN_RES))
    write_bucketed(cells, table, n_buckets)
    return spark.table(table)


def bucketed_cover(spark: SparkSession, polygons, table: str = "cover_bucketed",
                   n_buckets: int = 16) -> DataFrame:
    """DEFAULT_JOIN_RES cover table of a fixture-style list or a polygons
    DataFrame, built by `polygon_cover` (a table through the distributed
    polyfill, so the polygon side never loops on the driver). Pages and
    cover share the resolution, so their cells always meet."""
    cover = polygon_cover(spark, polygons)
    write_bucketed(cover, table, n_buckets)
    return spark.table(table)


def colocated_spatial_join(spark: SparkSession, pages_table: str, cover_table: str) -> DataFrame:
    """Shuffle-free spatial join over two tables bucketed on `cell`:
    sort-merge join uses the bucket layout directly (no Exchange), then the
    same winding-number refine over the cover's band edges `spatial_join`
    uses."""
    pages = spark.table(pages_table)
    cover = spark.table(cover_table)
    candidates = pages.join(cover.hint("merge"), "cell")
    return candidates.where(winding_col(F.col("lon"), F.col("lat"), F.col("edges")) != 0).select(*OUT_COLS)
