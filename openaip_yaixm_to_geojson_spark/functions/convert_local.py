"""Driver-side (no-Spark) fixture conversion.

The spatial operators and the DuckDB oracle generator need the converted
airspace polygons *without* a SparkSession (oracle_sql() must be cheap and
Spark-free). This module re-runs the same NumPy geometry kernels plus a
plain-Python twin of the relational mapping; pytest pins BOTH this twin and
the Spark expressions to the reference goldens, so they cannot drift apart
silently.
"""

from __future__ import annotations

import re
from typing import Any

import numpy as np

from . import geodesy, polyfix
from .classmap import ALLOWED_CLASSES, ALLOWED_LOCALTYPES, ALLOWED_TYPES, COMBO_TABLE, RULE_TYPES, TYPE_ONLY, TYPE_RENAME

REGEX_FEET = re.compile(r"^(\d+(\.\d+)?)\s*(ft|FT)?\s*(SFC)?$")
REGEX_FL = re.compile(r"^FL\s*(\d{2,})?$")


def map_class_and_type(type_: str, localtype: str | None, class_: str | None, rules: list[str] | None):
    if type_ not in ALLOWED_TYPES:
        raise ValueError(f"type value not allowed: {type_}")
    if localtype is not None and localtype not in ALLOWED_LOCALTYPES:
        raise ValueError(f"localtype value not allowed: {localtype}")
    if class_ is not None and class_ not in ALLOWED_CLASSES:
        raise ValueError(f"class value not allowed: {class_}")
    eff = type_
    for rule in rules or []:
        if rule in RULE_TYPES:
            eff = rule
            break
    if eff is not None and class_ is not None:
        if eff not in TYPE_RENAME:
            raise ValueError(f"no type mapping for: {eff}")
        return TYPE_RENAME[eff], class_, None
    if eff is not None and localtype is not None:
        if (eff, localtype) not in COMBO_TABLE:
            raise ValueError(f"no combo mapping for: {eff}|{localtype}")
        return COMBO_TABLE[(eff, localtype)]
    if eff is not None:
        if eff not in TYPE_ONLY:
            raise ValueError(f"no type-only mapping for: {eff}")
        return TYPE_ONLY[eff]
    raise ValueError("no mapping for null type")


def ceiling(definition: str) -> dict[str, Any]:
    if definition == "SFC":
        return {"value": 0, "unit": "FT", "referenceDatum": "GND"}
    m = REGEX_FEET.match(definition)
    if m:
        if m.group(3) is None:
            raise ValueError(f"unit-less feet ceiling: {definition}")
        datum = m.group(4) or "MSL"
        return {
            "value": float(m.group(1)),
            "unit": m.group(3).upper(),
            "referenceDatum": "GND" if datum == "SFC" else datum.upper(),
        }
    m = REGEX_FL.match(definition)
    if m:
        return {"value": int(m.group(1)), "unit": "FL", "referenceDatum": "STD"}
    raise ValueError(f"invalid ceiling definition: {definition}")


def convert_blocks(
    blocks: list[dict[str, Any]],
    services: list[dict[str, Any]] | None = None,
    geometry_detail: int = 100,
    fix_geometries: bool = False,
    consume_duplicate_buffer: float = 0.0,
) -> list[dict[str, Any]]:
    """YAIXM blocks (parsed dicts) -> list of feature dicts with keys
    name/type/class/upperCeiling/lowerCeiling/activatedByNotam/activity/
    remarks/groundService/ring (NumPy array)."""
    svc_by_id: dict[str, dict[str, Any]] = {}
    for svc in services or []:
        freq = repr(float(svc["frequency"]))
        whole, _, dec = freq.partition(".")
        freq_fmt = f"{whole}.{(dec or '000').ljust(3, '0')}"
        for controlled in svc.get("controls") or []:
            svc_by_id.setdefault(controlled, {"callsign": svc["callsign"], "frequency": freq_fmt})
    features = []
    for block in blocks:
        for seq_def in block.get("geometry") or []:
            seq = seq_def.get("seq")
            name = f"{block['name']} {seq}" if seq is not None else block["name"]
            cls = seq_def.get("class") or block.get("class")
            # JS `sequenceRules || baseRules`: [] is truthy in JS, so an
            # explicit empty rules list on the sequence SUPPRESSES base
            # rules; only a missing/null key inherits them.
            rules = seq_def["rules"] if seq_def.get("rules") is not None else block.get("rules")
            mapped_type, mapped_class, activity = map_class_and_type(
                block.get("type"), block.get("localtype"), cls, rules
            )
            ring = geodesy.build_ring(seq_def["boundary"], steps=geometry_detail)
            if fix_geometries:
                ring = polyfix.fix_ring(ring, consume_duplicate_buffer)
            feature = {
                "name": name,
                "type": mapped_type,
                "class": mapped_class,
                "upperCeiling": ceiling(seq_def["upper"]),
                "lowerCeiling": ceiling(seq_def["lower"]),
                "activatedByNotam": bool(rules and "NOTAM" in rules),
                "activity": activity or "NONE",
                "remarks": ", ".join(rules) if rules else None,
                "groundService": svc_by_id.get(block.get("id")),
                "ring": ring,
            }
            features.append(feature)
    return features


def fixture_polygons() -> list[dict[str, Any]]:
    """The reference fixture cases converted driver-side, each with a
    stable poly_id. This is the canonical polygon set used by spatial-join /
    kNN / tile queries and their oracles. `multi-sequence` is omitted — it
    is geometrically identical to `with-service` (same nine FARNBOROUGH CTA
    sequences) and would only duplicate polygons."""
    from ..data.fixtures_data import FIXTURES

    blocks = []
    for case in [
        "with-service",
        "single-arc-clockwise",
        "single-arc-counterclockwise",
        "circle",
        "single-line",
        "pill-shaped",
    ]:
        blocks.extend(FIXTURES[case]["airspace"])
    features = convert_blocks(blocks, services=FIXTURES["service"]["service"], fix_geometries=True)
    out = []
    for i, feature in enumerate(features):
        feature["poly_id"] = i
        out.append(feature)
    return out
