"""Stage checkpointing with per-partition lineage + resume.

North-rule requirement: every stage of the 10^12-document run checkpoints
to a table with per-partition lineage and row-count metrics so the job is
resumable mid-run. Iceberg is not available in this sandbox, so stages are
parquet directories plus an explicit `_lineage.json` manifest — the same
commit protocol shape (write -> verify -> publish manifest; a stage without
a manifest is treated as never written, giving atomic-ish semantics since
the manifest is published last).

Manifest fields:
  stage, status, rows, n_files, files {path: rows}, content_hash
  (order-independent xxhash64 sum over canonical row JSON — exact decimal
  sum, no overflow), schema, wall_seconds.

`resume`: a stage whose manifest is complete AND whose recount matches is
read back instead of recomputed; everything downstream of a missing or
corrupt stage recomputes. Plain code, no Spark extension.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_lineage.json"


def _content_hash(df: DataFrame) -> str:
    """Order-independent content fingerprint: exact decimal sum of per-row
    xxhash64 over canonical JSON of the full row."""
    hashed = df.select(
        F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))).alias("h")
    )
    total = hashed.agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("s")).first()["s"]
    return str(total)


def _parquet_files(stage_dir: str) -> list[str]:
    """Sorted paths, relative to the stage directory, of every parquet file
    under it (partition subdirectories included)."""
    return sorted(
        os.path.relpath(os.path.join(root, f), stage_dir)
        for root, _, fs in os.walk(stage_dir)
        for f in fs
        if f.endswith(".parquet")
    )


class StageRunner:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), MANIFEST)

    def manifest(self, name: str) -> dict | None:
        path = self._manifest_path(name)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def is_complete(self, name: str) -> bool:
        m = self.manifest(name)
        return bool(m and m.get("status") == "complete")

    def run(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: tuple[str, ...] = (),
        verify_on_resume: bool = True,
    ) -> DataFrame:
        """Build-or-resume one stage. Returns the stage DataFrame (reading
        from the checkpoint, so downstream lineage is cut at the stage
        boundary).

        verify_on_resume (default True): before trusting a resume, check the
        on-disk parquet file set against the manifest's per-file lineage and
        recount the rows (one cheap count job) — a truncated/corrupt stage
        directory with an intact manifest rebuilds instead of resuming
        silently with wrong data.
        """
        stage_dir = self._stage_dir(name)
        manifest = self.manifest(name)
        if manifest and manifest.get("status") == "complete":
            if not verify_on_resume or self._resume_is_sound(name, stage_dir, manifest):
                return self.spark.read.parquet(stage_dir)

        # incomplete / missing: rebuild from scratch
        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)
        started = time.time()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage_dir)

        written = self.spark.read.parquet(stage_dir)
        per_file = (
            written.select(F.input_file_name().alias("file"))
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        counts = {os.path.relpath(r["file"].replace("file://", ""), stage_dir): r["rows"] for r in per_file}
        # every on-disk file, including the empty part file Spark writes when
        # partition 0 has no rows: the resume check compares this same listing
        files = {f: counts.get(f, 0) for f in _parquet_files(stage_dir)}
        manifest = {
            "stage": name,
            "status": "complete",
            "rows": int(sum(files.values())),
            "n_files": len(files),
            "files": files,
            "content_hash": _content_hash(written),
            "schema": written.schema.jsonValue(),
            "wall_seconds": round(time.time() - started, 3),
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(name))
        return self.spark.read.parquet(stage_dir)

    def _resume_is_sound(self, name: str, stage_dir: str, manifest: dict) -> bool:
        """File set matches per-file lineage AND the recount matches."""
        if _parquet_files(stage_dir) != sorted(manifest["files"]):
            return False
        try:
            rows = self.spark.read.parquet(stage_dir).count()
        except Exception:
            return False
        return rows == manifest["rows"]

    def invalidate(self, name: str) -> None:
        stage_dir = self._stage_dir(name)
        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)

    def content_hash(self, name: str) -> str | None:
        m = self.manifest(name)
        return m.get("content_hash") if m else None
