"""Airspace conversion pipeline: YAIXM rows -> GeoJSON feature rows.

Spark-first re-expression of the reference's single-threaded converter
(reference: src/airspace-converter.ts:171-307):

* block -> sequence unnest is `posexplode` (reference loops :205-212,:249);
* name/coalesce/ceiling/NOTAM/mapping are built-in column expressions
  (whole-stage codegen, functions/columns.py + functions/classmap.py);
* the boundary fold + densification + validation/fix runs in ONE
  Arrow-batched pandas UDF over the NumPy kernels (functions/geodesy.py,
  functions/polyfix.py) — vectorized transport, no per-row Python UDFs;
* the ground-service lookup is an unnest + first-match dedupe on the tiny
  dimension side + broadcast left equi-join — the fact side never shuffles
  (reference nested loop :315-342).

Rows that the reference would throw on surface a non-null `error` column
instead (quarantine channel); `strict` collection raises like the
reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geodesy, polyfix
from ..functions.classmap import map_class_and_type
from ..functions.columns import (
    airspace_name,
    ceiling_struct,
    frequency_formatted,
    notam_flag,
    remarks_text,
)

GEOMETRY_RESULT_TYPE = T.StructType(
    [
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType())), True),
        T.StructField("valid", T.BooleanType(), True),
        T.StructField("fixed", T.BooleanType(), True),
        T.StructField("geom_error", T.StringType(), True),
    ]
)


def make_geometry_udf(
    geometry_detail: int = 100,
    fix_geometries: bool = False,
    validate_geometries: bool = True,
    consume_duplicate_buffer: float = 0.0,
):
    """Arrow-batched pandas UDF folding one boundary per row into a closed
    CCW ring; config knobs mirror the reference defaults
    (src/default-config.ts:1-10; consumeDuplicateBuffer meters knob from
    createFixedPolygon, src/geojson-polygon.ts:143-158)."""

    @F.pandas_udf(GEOMETRY_RESULT_TYPE)
    def geometry_udf(boundaries: pd.Series) -> pd.DataFrame:
        rings, valids, fixeds, errors = [], [], [], []
        for boundary in boundaries:
            try:
                segments = [
                    {
                        "line": list(seg["line"]) if seg["line"] is not None else None,
                        "arc": seg["arc"],
                        "circle": seg["circle"],
                    }
                    for seg in boundary
                ]
                ring = geodesy.build_ring(segments, steps=geometry_detail)
                fixed = False
                if fix_geometries:
                    new_ring = polyfix.fix_ring(ring, consume_duplicate_buffer)
                    fixed = new_ring is not ring
                    ring = new_ring
                valid = polyfix.ring_is_valid(ring) if validate_geometries else True
                rings.append(ring.tolist())
                valids.append(valid)
                fixeds.append(fixed)
                errors.append(None)
            except Exception as exc:  # quarantine channel, not a crash
                rings.append(None)
                valids.append(False)
                fixeds.append(False)
                errors.append(str(exc))
        return pd.DataFrame({"ring": rings, "valid": valids, "fixed": fixeds, "geom_error": errors})

    return geometry_udf


def explode_sequences(airspaces: DataFrame) -> DataFrame:
    """One row per geometry sequence — the engine's unit of work
    (1 sequence = 1 output polygon feature). posexplode_OUTER keeps
    structurally-malformed blocks (empty geometry + struct_error) as one
    row so they reach the quarantine channel instead of vanishing."""
    seq = F.posexplode_outer("geometry")
    return airspaces.select(
        "doc_id",
        "block_idx",
        F.col("name").alias("base_name"),
        F.col("id").alias("airspace_id"),
        F.col("type").alias("base_type"),
        F.col("localtype"),
        F.col("class").alias("base_class"),
        F.col("rules").alias("base_rules"),
        F.col("struct_error"),
        seq.alias("seq_idx", "sequence"),
    )


def prepare_services(services: DataFrame) -> DataFrame:
    """Unnest `controls` to an equi-join key and pre-format the frequency
    (reference formats at parse time, src/airspace-converter.ts:193-202)."""
    exploded = services.select(
        F.col("service_idx"),
        F.col("callsign"),
        frequency_formatted(F.col("frequency")).alias("frequency"),
        F.explode("controls").alias("airspace_id"),
    )
    # First-match dedupe happens HERE, on the tiny dimension side, before the
    # broadcast — the fact table never shuffles for this join. min(struct)
    # orders by service_idx first, so it is exactly "first service in file
    # order" like the reference's loop.
    first = F.min(F.struct("service_idx", "callsign", "frequency")).alias("_first")
    return exploded.groupBy("airspace_id").agg(first).select(
        "airspace_id",
        F.col("_first.callsign").alias("callsign"),
        F.col("_first.frequency").alias("frequency"),
    )


def convert_airspaces(
    airspaces: DataFrame,
    services: DataFrame | None = None,
    geometry_detail: int = 100,
    fix_geometries: bool = False,
    validate_geometries: bool = True,
    consume_duplicate_buffer: float = 0.0,
) -> DataFrame:
    """Full conversion: airspace rows -> GeoJSON feature rows.

    Returns columns: doc_id, block_idx, seq_idx, name, type, class,
    upperCeiling, lowerCeiling, activatedByNotam, activity, remarks,
    groundService(struct callsign,frequency), ring, valid, fixed, error.
    """
    rows = explode_sequences(airspaces)

    # JS `seq.class || base.class` semantics (reference
    # airspace-converter.ts:255-256): an empty STRING is falsy and falls
    # back, but an empty ARRAY is truthy — `rules: []` on a sequence
    # suppresses the base rules rather than inheriting them. So class falls
    # back on empty-or-null, rules only on null.
    seq_class = F.when(
        F.length(F.col("sequence.class")) > 0, F.col("sequence.class")
    ).otherwise(F.col("base_class"))
    seq_rules = F.when(
        F.col("sequence.rules").isNotNull(), F.col("sequence.rules")
    ).otherwise(F.col("base_rules"))
    mapped = map_class_and_type(F.col("base_type"), F.col("localtype"), seq_class, seq_rules)

    geometry_udf = make_geometry_udf(
        geometry_detail, fix_geometries, validate_geometries, consume_duplicate_buffer
    )

    feats = rows.select(
        "doc_id",
        "block_idx",
        "seq_idx",
        "airspace_id",
        "struct_error",
        airspace_name(F.col("base_name"), F.col("sequence.seq")).alias("name"),
        mapped.alias("_mapped"),
        ceiling_struct(F.col("sequence.upper")).alias("_upper"),
        ceiling_struct(F.col("sequence.lower")).alias("_lower"),
        notam_flag(seq_rules).alias("activatedByNotam"),
        remarks_text(seq_rules).alias("remarks"),
        geometry_udf(F.col("sequence.boundary")).alias("_geom"),
    )

    feats = feats.select(
        "doc_id",
        "block_idx",
        "seq_idx",
        "airspace_id",
        "name",
        F.col("_mapped.mapped_type").alias("type"),
        F.col("_mapped.mapped_class").alias("class"),
        F.struct(
            F.col("_upper.value").alias("value"),
            F.col("_upper.unit").alias("unit"),
            F.col("_upper.referenceDatum").alias("referenceDatum"),
        ).alias("upperCeiling"),
        F.struct(
            F.col("_lower.value").alias("value"),
            F.col("_lower.unit").alias("unit"),
            F.col("_lower.referenceDatum").alias("referenceDatum"),
        ).alias("lowerCeiling"),
        "activatedByNotam",
        # default NONE, overridden by mapping metaProps (reference :283-287)
        F.coalesce(F.col("_mapped.activity"), F.lit("NONE")).alias("activity"),
        "remarks",
        F.col("_geom.ring").alias("ring"),
        F.col("_geom.valid").alias("valid"),
        F.col("_geom.fixed").alias("fixed"),
        # structural input errors win: they describe the root cause, the
        # downstream mapping/ceiling/geometry errors are their symptoms
        F.coalesce(
            F.col("struct_error"),
            F.col("_mapped.map_error"),
            F.col("_upper.error"),
            F.col("_lower.error"),
            F.col("_geom.geom_error"),
        ).alias("error"),
    )

    if services is not None:
        svc = prepare_services(services)
        feats = (
            feats.join(F.broadcast(svc), on="airspace_id", how="left")
            .withColumn(
                "groundService",
                F.when(
                    F.col("callsign").isNotNull() & F.col("airspace_id").isNotNull(),
                    F.struct(F.col("callsign"), F.col("frequency")),
                ),
            )
            .drop("callsign", "frequency")
        )
    else:
        feats = feats.withColumn(
            "groundService",
            F.lit(None).cast(
                T.StructType(
                    [
                        T.StructField("callsign", T.StringType()),
                        T.StructField("frequency", T.StringType()),
                    ]
                )
            ),
        )

    return feats


def split_quarantine(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Error channel as first-class tables: (clean, quarantine).

    The reference throws on any invalid row (enum guards, bad ceilings,
    broken boundaries — src/airspace-converter.ts:352-362,507-549); a
    distributed engine must not kill a 10^12-row job for one bad record,
    so rows the reference would throw on land in a quarantine table
    carrying the error message, and the clean side is guaranteed
    error-free. `features_to_geojson` keeps the reference's throw
    semantics for converter-API users."""
    clean = features.where(F.col("error").isNull()).drop("error")
    quarantine = features.where(F.col("error").isNotNull())
    return clean, quarantine


def clean_object(
    obj,
    keep_empty_strings: bool = False,
    keep_empty_arrays: bool = False,
    keep_empty_objects: bool = False,
    keep_null: bool = False,
):
    """Faithful recursive cleanObject (reference src/clean-object.ts:19-88):
    drop null / '' / [] / {} values at ANY dict nesting depth; dicts recurse,
    arrays are kept as-is unless empty (the reference does not clean array
    elements); a dict that collapses to empty is dropped too."""
    if not isinstance(obj, dict) or not obj:
        return obj
    out = {}
    for key, value in obj.items():
        if (
            (not keep_null and value is None)
            or (not keep_empty_strings and isinstance(value, str) and value == "")
            or (not keep_empty_arrays and isinstance(value, list) and not value)
            or (not keep_empty_objects and isinstance(value, dict) and not value)
        ):
            continue
        if isinstance(value, dict):
            value = clean_object(
                value, keep_empty_strings, keep_empty_arrays, keep_empty_objects, keep_null
            )
            if not value and not keep_empty_objects:
                continue
        out[key] = value
    return out


def _clean_number(x: float):
    """JSON-friendly numbers: integral floats render as ints (the golden
    fixtures carry `2500`, not `2500.0`)."""
    if x is None:
        return None
    return int(x) if float(x).is_integer() else float(x)


def feature_json_col() -> F.Column:
    """One GeoJSON Feature as a JSON string column — the DISTRIBUTED sink
    representation (newline-delimited GeoJSON). Built with to_json over a
    struct: null fields are omitted by Spark's ignoreNullFields, matching
    cleanObject's null pruning for the fields this schema carries."""
    ceiling = lambda side: F.struct(  # noqa: E731
        F.col(f"{side}.value").alias("value"),
        F.col(f"{side}.unit").alias("unit"),
        F.col(f"{side}.referenceDatum").alias("referenceDatum"),
    )
    props = F.struct(
        F.col("name"),
        F.col("type"),
        F.col("class"),
        ceiling("upperCeiling").alias("upperCeiling"),
        ceiling("lowerCeiling").alias("lowerCeiling"),
        F.col("activatedByNotam"),
        F.col("activity"),
        F.col("remarks"),
        F.when(F.col("groundService.callsign").isNotNull(), F.col("groundService")).alias(
            "groundService"
        ),
    )
    feature = F.struct(
        F.lit("Feature").alias("type"),
        props.alias("properties"),
        F.struct(
            F.lit("Polygon").alias("type"), F.array(F.col("ring")).alias("coordinates")
        ).alias("geometry"),
    )
    return F.to_json(feature)


def write_geojson_ndjson(features: DataFrame, path: str) -> None:
    """Distributed GeoJSON sink: one Feature JSON per line (ndjson), written
    straight from executors — no driver collect, so the feature table can
    be arbitrarily large. The driver-side `features_to_geojson` collector
    remains the fixture-parity sink (pretty FeatureCollection, exact
    reference cleanObject semantics; note the collector renders integral
    ceilings as ints (2500) while to_json renders JSON doubles (2500.0) —
    numerically equal, texturally different)."""
    clean, _quarantine = split_quarantine(features)
    clean.select(feature_json_col().alias("value")).write.mode("overwrite").text(path)


def features_to_geojson(features: DataFrame) -> dict:
    """Collect feature rows into a GeoJSON FeatureCollection dict with the
    reference's cleanObject semantics (null/empty fields omitted,
    src/clean-object.ts:19-88). Input order (doc, block, sequence) is
    preserved like the reference's sequential loop output. Raises on the
    first row with a conversion error, like the reference."""
    rows = features.orderBy("doc_id", "block_idx", "seq_idx").collect()
    out = []
    for row in rows:
        if row["error"] is not None:
            raise ValueError(f"conversion error for '{row['name']}': {row['error']}")
        props: dict = {
            "name": row["name"],
            "type": row["type"],
            "class": row["class"],
            "upperCeiling": {
                "value": _clean_number(row["upperCeiling"]["value"]),
                "unit": row["upperCeiling"]["unit"],
                "referenceDatum": row["upperCeiling"]["referenceDatum"],
            },
            "lowerCeiling": {
                "value": _clean_number(row["lowerCeiling"]["value"]),
                "unit": row["lowerCeiling"]["unit"],
                "referenceDatum": row["lowerCeiling"]["referenceDatum"],
            },
            "activatedByNotam": row["activatedByNotam"],
            "activity": row["activity"],
            "remarks": row["remarks"],
            "groundService": (
                {
                    "callsign": row["groundService"]["callsign"],
                    "frequency": row["groundService"]["frequency"],
                }
                if row["groundService"] is not None
                else None
            ),
        }
        # cleanObject over the whole feature like the reference
        # (src/airspace-converter.ts:304)
        feature = clean_object(
            {
                "type": "Feature",
                "properties": props,
                "geometry": {"type": "Polygon", "coordinates": [row["ring"]]},
            }
        )
        out.append(feature)
    return {"type": "FeatureCollection", "features": out}
