"""Common-Crawl-style `pages` table (url, warc_ts, html, text, lang) + a
deterministic geotag per row.

The geotag is a pure function of `url` computed with md5 + ascii + integer
arithmetic ONLY — every operation evaluates bit-identically in Spark SQL,
DuckDB SQL and any other ANSI engine, which is what lets the driver's
DuckDB oracle reproduce the engine's spatial assignments exactly, and what
makes re-runs at different parallelism levels see identical data
(BASELINE.json input_hint: deterministic synthetic pages, no external
data). Points land in a UK-ish box (lat 49.5..57.7, lon -6.5..1.3)
covering the reference fixture airspaces so spatial joins are non-trivially
populated.

All columns are built from JVM-side expressions — no Python touches the
fact table here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _digit(hash_col: str, i: int, weight: int) -> str:
    return f"CAST(ascii(substring({hash_col}, {i}, 1)) AS BIGINT) * {weight}"


def _hash_expr(hash_col: str, first_char: int) -> str:
    parts = [
        _digit(hash_col, first_char + k, 10 ** (2 * (4 - k)))
        for k in range(5)
    ]
    return "(" + " + ".join(parts) + ")"


# Page geotags are drawn from three deterministic clusters so spatial joins
# against the fixture airspaces are non-trivially populated at every scale:
# 40% around the FARNBOROUGH CTA group, 30% around the ABERDEEN CTA arcs,
# 30% spread over a wide UK box (background noise / empty-tile coverage).
# (base_lat, lat_span_1e-5, base_lon, lon_span_1e-5, cluster weight 0..9)
_CLUSTERS = [
    ("51.10", 55000, "-0.95", 110000, 4),   # Farnborough box
    ("57.00", 50000, "-2.60", 80000, 3),    # Aberdeen box
    ("49.50", 820000, "-6.50", 780000, 3),  # wide UK box
]


def _cluster_expr(hash_col: str) -> str:
    """Cluster selector 0..9 from md5 chars 11-12."""
    return (
        f"((CAST(ascii(substring({hash_col}, 11, 1)) AS BIGINT) * 100 + "
        f"CAST(ascii(substring({hash_col}, 12, 1)) AS BIGINT)) % 10)"
    )


def _coord_sql(hash_col: str, which: str) -> str:
    """lat/lon from a pre-computed md5-hex column, as dialect-shared SQL.

    Every term is explicitly DOUBLE — bare decimal literals parse as
    DECIMAL in both Spark and DuckDB, whose decimal arithmetic is not
    bit-compatible; IEEE doubles are. Taking the hash COLUMN (not an
    inlined md5(url)) keeps the expression tree small: interpreted eval
    and codegen both re-evaluate duplicated subtrees, so inlining md5 here
    used to cost 12 digest computations per row."""
    hash_expr = _hash_expr(hash_col, 1 if which == "lat" else 6)
    cluster = _cluster_expr(hash_col)
    branches = []
    lo = 0
    for base_lat, lat_span, base_lon, lon_span, weight in _CLUSTERS:
        base, span = (base_lat, lat_span) if which == "lat" else (base_lon, lon_span)
        hi = lo + weight
        value = (
            f"CAST({base} AS DOUBLE) + "
            f"CAST({hash_expr} % {span} AS DOUBLE) / CAST(100000 AS DOUBLE)"
        )
        branches.append(f"WHEN {cluster} < {hi} THEN {value}")
        lo = hi
    return "(CASE " + " ".join(branches) + " ELSE CAST(0 AS DOUBLE) END)"


def lat_sql(url_expr: str = "url") -> str:
    """Latitude from a url expression (md5 inlined — prefer pages_cte /
    synth_pages, which hash once per row)."""
    return _coord_sql(f"md5({url_expr})", "lat")


def lon_sql(url_expr: str = "url") -> str:
    return _coord_sql(f"md5({url_expr})", "lon")


def warc_ts_seconds_sql(hash_col: str) -> str:
    """Deterministic epoch-seconds 'fetch time' within 2024, from md5 chars
    13-17 — identical arithmetic in Spark and DuckDB (the engine's regular
    warc_ts uses xxhash64, which DuckDB lacks, so oracle-graded
    time-derived queries use this column instead)."""
    return f"(CAST(1704067200 AS BIGINT) + {_hash_expr(hash_col, 13)} % 31536000)"


def url_sql(dialect: str) -> str:
    """`documents` row -> url. doc_id cast differs per dialect."""
    cast = "CAST(doc_id AS STRING)" if dialect == "spark" else "CAST(doc_id AS VARCHAR)"
    return f"concat('https://', source, '.example/', {cast})"


def pages_cte(dialect: str) -> str:
    """SQL deriving the `pages` view from the `documents` table — identical
    logic in Spark and DuckDB (only the string cast differs). The md5 is
    computed once per row in an inner projection."""
    u = url_sql(dialect)
    inner = (
        f"SELECT {u} AS url, md5({u}) AS uh, text, lang, "
        f"CAST(n_chars AS BIGINT) AS n_bytes FROM documents"
    )
    return (
        f"SELECT url, text, lang, n_bytes, "
        f"{_coord_sql('uh', 'lat')} AS lat, {_coord_sql('uh', 'lon')} AS lon "
        f"FROM ({inner})"
    )


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> pages DataFrame with geotags.

    `text` passes through untouched (byte-identical per url invariant).
    """
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return spark.sql(pages_cte("spark")).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.xxhash64("url") % 31536000)
    )


def synth_pages(spark: SparkSession, n: int, with_payload: bool = True) -> DataFrame:
    """Deterministic synthetic pages at arbitrary scale for benchmarks —
    spark.range + expressions only (fully JVM-side, uniform partitions,
    identical content at any parallelism)."""
    df = spark.range(n).select(
        F.concat(F.lit("https://bench.example/"), F.col("id").cast("string")).alias("url")
    )
    df = (
        df.withColumn("uh", F.md5("url"))
        .withColumn("lat", F.expr(_coord_sql("uh", "lat")))
        .withColumn("lon", F.expr(_coord_sql("uh", "lon")))
        .drop("uh")
    )
    if with_payload:
        df = (
            df.withColumn("text", F.concat(F.lit("synthetic page body for "), F.col("url")))
            .withColumn(
                "lang",
                F.element_at(
                    F.array(*[F.lit(x) for x in ["en", "de", "fr", "es", "it"]]),
                    ((F.xxhash64("url") % 5 + 5) % 5 + 1).cast("int"),
                ),
            )
            .withColumn("warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.xxhash64("url") % 31536000))
            .withColumn("html", F.encode(F.col("text"), "utf-8"))
        )
    return df
