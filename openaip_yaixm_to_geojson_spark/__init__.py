"""PySpark-native spatial-join + tiling engine with the capabilities of
openAIP/openaip-yaixm-to-geojson (reference read-only at /root/reference).

Public surface:
* YaixmConverter — reference-shaped conversion API (converter_api.py)
* operators — convert (incl. distributed ndjson GeoJSON sink), spatial
  (broadcast / salted-shuffle / polygon-table joins), knn, tiles (incl.
  zoom pyramid), dedup (exact / MinHash-LSH / SimHash / Jaccard /
  duplicate clustering), similarity (exact, hyperplane-LSH, IVF ANN,
  near-dup), text (langid, quality, tokens, fingerprints, deterministic
  sampling), events (gap sessionization, windows, JSON props), relational
  (warehouse-shaped queries), multimodal
* sources — yaixm (YAML docs -> typed rows, structural quarantine),
  pages (Common-Crawl-style deterministic geotags)
* plans — session factory, checkpoint/lineage/resume stage runner,
  resumable pipeline, bucketed co-located join
"""

from .converter_api import YaixmConverter

__all__ = ["YaixmConverter"]
