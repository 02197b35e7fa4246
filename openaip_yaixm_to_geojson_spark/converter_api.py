"""Public converter API mirroring the reference surface.

The reference exposes `YaixmConverter` with `convertFromFile`,
`convertFromBuffer`, `toGeojson` and `toGeojsonFile`
(reference: src/yaixm-converter.ts:87-154, exported via src/index.ts:1).
This class keeps that call shape — a user of the reference can switch with
a mechanical rename — while the execution underneath is the distributed
Spark pipeline (operators/convert.py).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession

from .functions.validate_geojson import validate_feature_collection
from .operators.convert import convert_airspaces, features_to_geojson
from .sources.yaixm import (
    airspaces_from_yaml_docs,
    services_from_yaml_docs,
)

DEFAULT_CONFIG = {
    # reference defaults: src/default-config.ts:1-10
    "validateGeometries": True,
    "fixGeometries": False,
    "geometryDetail": 100,
    "strictSchemaValidation": False,
    # meters buffer for collapsing near-duplicate vertices during fixing
    # (reference createFixedPolygon/removeDuplicatePoints,
    # src/geojson-polygon.ts:143-158,214-259)
    "consumeDuplicateBuffer": 0,
}


class YaixmConverter:
    def __init__(self, spark: SparkSession | None = None, **config: Any):
        unknown = set(config) - set(DEFAULT_CONFIG)
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        self.config = {**DEFAULT_CONFIG, **config}
        self._spark = spark
        self._geojson: dict | None = None

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from .plans.session import build_session

            self._spark = build_session(app_name="yaixm-converter")
        return self._spark

    def convert_from_file(self, path: str, type: str = "airspace", service_file_path: str | None = None) -> None:
        """Read YAIXM file(s) -> convert (reference convertFromFile,
        src/yaixm-converter.ts:87-113)."""
        if not os.path.exists(path):
            raise FileNotFoundError(path)
        if service_file_path is not None and not os.path.exists(service_file_path):
            raise FileNotFoundError(service_file_path)
        with open(path, "rb") as fh:
            buffer = fh.read()
        service_buffer = None
        if service_file_path is not None:
            with open(service_file_path, "rb") as fh:
                service_buffer = fh.read()
        self.convert_from_buffer(buffer, type=type, service_file_buffer=service_buffer)

    def convert_from_buffer(
        self, buffer: bytes, type: str = "airspace", service_file_buffer: bytes | None = None
    ) -> None:
        """Convert YAIXM bytes (reference convertFromBuffer,
        src/yaixm-converter.ts:115-126; only 'airspace' type exists,
        dispatch at :159-171)."""
        if type != "airspace":
            raise ValueError(f"unsupported type '{type}' - only 'airspace' is supported")
        self._geojson = None
        spark = self.spark
        docs = spark.createDataFrame(
            [("buffer", buffer.decode("utf-8"))], "doc_id string, yaml string"
        )
        airspaces = airspaces_from_yaml_docs(docs)
        services = None
        if service_file_buffer is not None:
            svc_docs = spark.createDataFrame(
                [("services", service_file_buffer.decode("utf-8"))], "doc_id string, yaml string"
            )
            services = services_from_yaml_docs(svc_docs)
        features = convert_airspaces(
            airspaces,
            services=services,
            geometry_detail=self.config["geometryDetail"],
            fix_geometries=self.config["fixGeometries"],
            validate_geometries=self.config["validateGeometries"],
            consume_duplicate_buffer=float(self.config["consumeDuplicateBuffer"]),
        )
        geojson = features_to_geojson(features)
        problems = validate_feature_collection(geojson)
        if problems:
            if self.config["strictSchemaValidation"]:
                raise ValueError(f"GeoJSON does not adhere to schema: {problems[:5]}")
            print("WARN: GeoJSON does not adhere to underlying schema.")
        self._geojson = geojson

    def to_geojson(self) -> dict | None:
        """In-memory FeatureCollection, or None before conversion
        (reference toGeojson, src/yaixm-converter.ts:128-130)."""
        return self._geojson

    def to_geojson_file(self, path: str) -> None:
        """Pretty-printed GeoJSON file (reference toGeojsonFile,
        src/yaixm-converter.ts:136-154)."""
        if self._geojson is None:
            raise RuntimeError("nothing converted yet")
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self._geojson, fh, indent=2)
