"""YAIXM sources: YAML documents -> typed airspace / service DataFrames.

The reference reads ONE file on one node (src/yaixm-converter.ts:87-126).
The engine treats YAIXM input as a *table of documents* — each row one YAML
document — and parses them distributed inside `mapInPandas` (PyYAML over
Arrow batches), so a directory of thousands of YAIXM files scales out.
Schemas are explicit StructTypes, never inferred (the reference validates
with Zod/Ajv rather than inferring, src/validate-schema.ts).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# boundary segment: tagged union encoded as nullable branches
# (Spark has no sum types — reference src/airspace-converter.ts:76-97)
SEGMENT_TYPE = T.StructType(
    [
        T.StructField("line", T.ArrayType(T.StringType()), True),
        T.StructField(
            "arc",
            T.StructType(
                [
                    T.StructField("dir", T.StringType(), True),
                    T.StructField("radius", T.StringType(), True),
                    T.StructField("centre", T.StringType(), True),
                    T.StructField("to", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "circle",
            T.StructType(
                [
                    T.StructField("radius", T.StringType(), True),
                    T.StructField("centre", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

SEQUENCE_TYPE = T.StructType(
    [
        T.StructField("seq", T.IntegerType(), True),
        T.StructField("upper", T.StringType(), True),
        T.StructField("lower", T.StringType(), True),
        T.StructField("class", T.StringType(), True),
        T.StructField("rules", T.ArrayType(T.StringType()), True),
        T.StructField("boundary", T.ArrayType(SEGMENT_TYPE), True),
    ]
)

AIRSPACE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("block_idx", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("id", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("localtype", T.StringType(), True),
        T.StructField("class", T.StringType(), True),
        T.StructField("rules", T.ArrayType(T.StringType()), True),
        T.StructField("geometry", T.ArrayType(SEQUENCE_TYPE), True),
        # structural input-validation verdict (null = well-formed). Mirrors
        # the reference's Zod asserts on the YAIXM object shape
        # (src/validate-schema.ts:16-52, src/yaixm-converter.ts:116-117):
        # a malformed block quarantines (or raises in strict collection)
        # instead of silently flowing null fields to the output.
        T.StructField("struct_error", T.StringType(), True),
    ]
)

SERVICE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("service_idx", T.IntegerType(), False),
        T.StructField("callsign", T.StringType(), True),
        T.StructField("controls", T.ArrayType(T.StringType()), True),
        T.StructField("frequency", T.DoubleType(), True),
    ]
)


def _validate_block(block: Any) -> str | None:
    """Structural YAIXM airspace-block checks, mirroring the reference's
    schema asserts: required name (non-empty string), required non-empty
    geometry list, each sequence an object with a non-empty boundary list,
    string-typed scalar fields and list-typed rules when present."""
    if not isinstance(block, dict):
        return f"airspace block is not an object (got {type(block).__name__})"
    name = block.get("name")
    if not isinstance(name, str) or not name:
        return "missing or non-string required field 'name'"
    for field in ("id", "type", "localtype", "class"):
        v = block.get(field)
        if v is not None and not isinstance(v, str):
            return f"field '{field}' must be a string (got {type(v).__name__})"
    rules = block.get("rules")
    if rules is not None and not isinstance(rules, list):
        return f"field 'rules' must be a list (got {type(rules).__name__})"
    geometry = block.get("geometry")
    if not isinstance(geometry, list) or not geometry:
        return "missing or empty required field 'geometry'"
    for gi, seq_def in enumerate(geometry):
        if not isinstance(seq_def, dict):
            return f"geometry[{gi}] is not an object"
        boundary = seq_def.get("boundary")
        if not isinstance(boundary, list) or not boundary:
            return f"geometry[{gi}] missing or empty required field 'boundary'"
        for si, seg in enumerate(boundary):
            if not isinstance(seg, dict) or not any(k in seg for k in ("line", "arc", "circle")):
                return f"geometry[{gi}].boundary[{si}] is not a line/arc/circle segment"
    return None


def _bad_block_row(doc_id: str, block_idx: int, block: Any, err: str) -> dict[str, Any]:
    name = block.get("name") if isinstance(block, dict) else None
    return {
        "doc_id": doc_id,
        "block_idx": block_idx,
        "name": name if isinstance(name, str) else None,
        "id": None,
        "type": None,
        "localtype": None,
        "class": None,
        "rules": None,
        "geometry": [],
        "struct_error": err,
    }


def _airspace_rows(doc_id: str, parsed: dict[str, Any]) -> list[dict[str, Any]]:
    rows = []
    for block_idx, block in enumerate(parsed.get("airspace") or []):
        err = _validate_block(block)
        if err is not None:
            rows.append(_bad_block_row(doc_id, block_idx, block, err))
            continue
        try:
            geometry = []
            for seq_def in block.get("geometry") or []:
                boundary = []
                for seg in seq_def.get("boundary") or []:
                    line = seg.get("line")
                    boundary.append(
                        {
                            "line": [str(c) for c in line] if line is not None else None,
                            "arc": (
                                {k: str(v) for k, v in seg["arc"].items()}
                                if seg.get("arc") is not None
                                else None
                            ),
                            "circle": (
                                {k: str(v) for k, v in seg["circle"].items()}
                                if seg.get("circle") is not None
                                else None
                            ),
                        }
                    )
                geometry.append(
                    {
                        "seq": seq_def.get("seq"),
                        "upper": seq_def.get("upper"),
                        "lower": seq_def.get("lower"),
                        "class": seq_def.get("class"),
                        "rules": seq_def.get("rules"),
                        "boundary": boundary,
                    }
                )
            rows.append(
                {
                    "doc_id": doc_id,
                    "block_idx": block_idx,
                    "name": block.get("name"),
                    "id": block.get("id"),
                    "type": block.get("type"),
                    "localtype": block.get("localtype"),
                    "class": block.get("class"),
                    "rules": block.get("rules"),
                    "geometry": geometry,
                    "struct_error": None,
                }
            )
        except Exception as exc:  # malformed leaf types past the shape check
            rows.append(_bad_block_row(doc_id, block_idx, block, f"malformed block: {exc}"))
    return rows


def _service_rows(doc_id: str, services: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Service rows in file order: ``service_idx`` is the position in the
    ``service`` list."""
    return [
        {
            "doc_id": doc_id,
            "service_idx": idx,
            "callsign": svc.get("callsign"),
            "controls": [str(c) for c in (svc.get("controls") or [])],
            "frequency": float(svc["frequency"]) if svc.get("frequency") is not None else None,
        }
        for idx, svc in enumerate(services)
    ]


def airspaces_from_yaml_docs(docs: DataFrame) -> DataFrame:
    """``docs(doc_id string, yaml string)`` -> airspace rows (AIRSPACE_SCHEMA).

    Distributed PyYAML parse over Arrow batches (vectorized transport; the
    YAML grammar itself has no columnar kernel).
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import yaml

        for pdf in batches:
            out: list[dict[str, Any]] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["yaml"]):
                try:
                    parsed = yaml.safe_load(text) or {}
                except Exception as exc:
                    # a single unparseable document must quarantine, not
                    # kill a 10^12-doc job (block_idx -1 = document-level)
                    out.append(_bad_block_row(doc_id, -1, None, f"yaml parse error: {exc}"))
                    continue
                if not isinstance(parsed, dict):
                    out.append(
                        _bad_block_row(
                            doc_id, -1, None, f"yaml document is not a mapping ({type(parsed).__name__})"
                        )
                    )
                    continue
                out.extend(_airspace_rows(doc_id, parsed))
            yield pd.DataFrame(out, columns=[f.name for f in AIRSPACE_SCHEMA.fields])

    return docs.mapInPandas(parse, schema=AIRSPACE_SCHEMA)


def services_from_yaml_docs(docs: DataFrame) -> DataFrame:
    """``docs(doc_id string, yaml string)`` -> service rows (SERVICE_SCHEMA).
    ``service_idx`` preserves file order — the reference's join keeps the
    FIRST matching service (src/airspace-converter.ts:321-330)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import yaml

        for pdf in batches:
            out: list[dict[str, Any]] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["yaml"]):
                parsed = yaml.safe_load(text) or {}
                out.extend(_service_rows(doc_id, parsed.get("service") or []))
            yield pd.DataFrame(out, columns=[f.name for f in SERVICE_SCHEMA.fields])

    return docs.mapInPandas(parse, schema=SERVICE_SCHEMA)


def airspaces_from_records(spark: SparkSession, records: list[dict[str, Any]]) -> DataFrame:
    """Pre-parsed YAIXM blocks (e.g. embedded fixtures) -> airspace rows."""
    rows = _airspace_rows("inline", {"airspace": records})
    return spark.createDataFrame(rows, schema=AIRSPACE_SCHEMA)


def services_from_records(spark: SparkSession, records: list[dict[str, Any]]) -> DataFrame:
    return spark.createDataFrame(_service_rows("inline", records), schema=SERVICE_SCHEMA)
