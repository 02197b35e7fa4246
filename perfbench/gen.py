"""Seeded input generators. The same seed always gives the same inputs;
the program under test only ever sees the files these functions write.

- pages: `spark.range` plus the engine's public `lat_sql`/`lon_sql`
  geotag over a URL prefix derived from the seed.
- YAIXM: the embedded reference fixture blocks (lines, arcs, circles),
  each moved whole (arc `to` points with their centres) so that its centre
  lands on a seeded point over the Aberdeen page cluster of
  `sources.pages`. No airspace then reaches the cell-r5 region south of
  56.25N and west of 0E, which holds the largest file of the pipeline's
  `pages` stage, so the first part file of `join_out` is empty on every
  seed (see `workloads.PipelineResume`).
- documents: a corpus with the shape of the sf0.1 `documents` table (a
  30-word vocabulary, 10-99 words per text, 5% near-duplicates marked
  `dup`, a few exact duplicates, five languages), with seeded doc_ids.
"""

from __future__ import annotations

import copy
from typing import Any

import numpy as np
import pandas as pd

# fixture cases behind `fixture_polygons()`: six blocks, fourteen sequences
YAIXM_CASES = (
    "with-service",
    "single-arc-clockwise",
    "single-arc-counterclockwise",
    "circle",
    "single-line",
    "pill-shaped",
)

# where block centres land, in arc-seconds: (lat lo, lat hi, lon lo, lon hi),
# 57.05-57.45N 2.50-1.90W, inside the Aberdeen page cluster (57.0-57.5N,
# 2.6-1.8W); the largest block reaches 0.26 degrees from its centre
CENTRE_BOX_S = (57.05 * 3600, 57.45 * 3600, -2.50 * 3600, -1.90 * 3600)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20


def page_prefix(seed: int) -> str:
    return f"https://s{seed}.bench.example/"


def pages_df(spark, seed: int, n: int, salt: str = "p"):
    """`n` pages (url, lat, lon) whose geotag is the engine's own md5-based
    expression over a seed-specific URL."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.sources.pages import lat_sql, lon_sql

    urls = spark.range(n).select(
        F.concat(F.lit(page_prefix(seed) + salt + "/"), F.col("id").cast("string")).alias("url")
    )
    return urls.select("url", F.expr(lat_sql("url")).alias("lat"), F.expr(lon_sql("url")).alias("lon"))


def dms_to_seconds(coord: str) -> tuple[int, int]:
    """'512014N 0003104W' -> signed (lat, lon) in whole arc-seconds."""
    lat_s, lon_s = coord.split(" ")
    lat = int(lat_s[0:2]) * 3600 + int(lat_s[2:4]) * 60 + int(lat_s[4:6])
    lon = int(lon_s[0:3]) * 3600 + int(lon_s[3:5]) * 60 + int(lon_s[5:7])
    return (-lat if lat_s[6] == "S" else lat), (-lon if lon_s[7] == "W" else lon)


def seconds_to_dms(lat: int, lon: int) -> str:
    def part(v: int, width: int, pos: str, neg: str) -> str:
        a = abs(v)
        return f"{a // 3600:0{width}d}{a % 3600 // 60:02d}{a % 60:02d}{pos if v >= 0 else neg}"

    return f"{part(lat, 2, 'N', 'S')} {part(lon, 3, 'E', 'W')}"


def block_points(block: dict[str, Any]) -> list[str]:
    """Every coordinate of `block`: line points, arc/circle centres and arc
    end points."""
    pts = []
    for seq in block["geometry"]:
        for seg in seq["boundary"]:
            pts.extend(seg.get("line") or [])
            for key in ("arc", "circle"):
                if seg.get(key):
                    pts.extend(seg[key][k] for k in ("centre", "to") if k in seg[key])
    return pts


def shift_block(block: dict[str, Any], dlat: int, dlon: int) -> dict[str, Any]:
    """Copy of `block` with every coordinate (line points, arc/circle
    centres and arc end points) moved by the same arc-second offset."""

    def move(coord: str) -> str:
        lat, lon = dms_to_seconds(coord)
        return seconds_to_dms(lat + dlat, lon + dlon)

    out = copy.deepcopy(block)
    for seq in out["geometry"]:
        for seg in seq["boundary"]:
            if seg.get("line"):
                seg["line"] = [move(c) for c in seg["line"]]
            for key in ("arc", "circle"):
                if seg.get(key):
                    seg[key]["centre"] = move(seg[key]["centre"])
                    if "to" in seg[key]:
                        seg[key]["to"] = move(seg[key]["to"])
    return out


def yaixm_docs(seed: int, copies: int) -> pd.DataFrame:
    """`copies` x the six fixture blocks, one block per YAML document, each
    block moved so that the mean of its coordinates lands on its own seeded
    point in `CENTRE_BOX_S`: 6*copies documents holding 14*copies airspace
    sequences. Columns: doc_id, yaml."""
    import yaml

    from openaip_yaixm_to_geojson_spark.data.fixtures_data import FIXTURES

    rng = np.random.default_rng([seed, 1])
    lat_lo, lat_hi, lon_lo, lon_hi = (int(v) for v in CENTRE_BOX_S)
    docs = []
    for i in range(copies * len(YAIXM_CASES)):
        block = FIXTURES[YAIXM_CASES[i % len(YAIXM_CASES)]]["airspace"][0]
        points = np.array([dms_to_seconds(c) for c in block_points(block)])
        centre = np.rint(points.mean(axis=0)).astype(int)
        target = rng.integers(lat_lo, lat_hi + 1), rng.integers(lon_lo, lon_hi + 1)
        moved = shift_block(block, int(target[0] - centre[0]), int(target[1] - centre[1]))
        moved["name"] = f"{moved['name']} B{i:03d}"
        if "id" in moved:
            moved["id"] = f"{moved['id']}-b{i:03d}"
        docs.append(
            {"doc_id": f"yaixm-{i:03d}", "yaml": yaml.safe_dump({"airspace": [moved]}, sort_keys=False)}
        )
    return pd.DataFrame(docs, columns=["doc_id", "yaml"])


def documents(seed: int, n: int) -> pd.DataFrame:
    """Corpus with the sf0.1 documents schema (doc_id, text, lang, source,
    n_chars)."""
    rng = np.random.default_rng([seed, 2])
    doc_ids = np.sort(rng.choice(10 * n + 1_000_000, size=n, replace=False)).astype(np.int64)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and r < 0.0516:  # exact duplicate
            texts.append(texts[int(rng.integers(i))])
        else:
            texts.append(" ".join(rng.choice(vocab, size=int(rng.integers(10, 100)))))
    langs = rng.choice(np.array(LANGS), size=n, p=LANG_WEIGHTS)
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
