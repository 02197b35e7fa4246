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

Lineage is file metadata, as in an Iceberg manifest: `files` maps every
parquet file under the stage directory (partition subdirectories and empty
part files included) to the row count in its footer. The same footer
listing checks a resume: a stage whose manifest is complete is read back
iff its footer listing equals the manifest's `files` (same paths, same
per-file rows); a missing, extra, truncated or rewritten file, or an
unreadable footer, rebuilds the stage. Neither path runs a Spark job to
count rows. Everything downstream of a rebuilt stage recomputes. Plain
code, no Spark extension.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
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


def _file_rows(stage_dir: str) -> dict[str, int]:
    """Path (relative to the stage directory) -> footer row count of every
    parquet file under it. Raises OSError / pyarrow.ArrowInvalid on a file
    whose footer cannot be read."""
    rows = {}
    for root, _, fs in os.walk(stage_dir):
        for f in fs:
            if f.endswith(".parquet"):
                path = os.path.join(root, f)
                rows[os.path.relpath(path, stage_dir)] = pq.read_metadata(path).num_rows
    return rows


def _resume_is_sound(stage_dir: str, manifest: dict) -> bool:
    """Every on-disk file and its footer row count match the manifest."""
    try:
        return _file_rows(stage_dir) == manifest["files"]
    except (OSError, pa.ArrowInvalid):
        return False


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

    def run(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: tuple[str, ...] = (),
    ) -> DataFrame:
        """Build-or-resume one stage. Returns the stage DataFrame read from
        the checkpoint, so downstream lineage is cut at the stage boundary.
        A sound complete stage is read back; anything else rebuilds."""
        stage_dir = self._stage_dir(name)
        manifest = self.manifest(name)
        if manifest and manifest.get("status") == "complete" and _resume_is_sound(stage_dir, manifest):
            return self.spark.read.parquet(stage_dir)

        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)
        started = time.time()
        writer = build().write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage_dir)

        written = self.spark.read.parquet(stage_dir)
        files = _file_rows(stage_dir)
        manifest = {
            "stage": name,
            "status": "complete",
            "rows": sum(files.values()),
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
        return written

    def invalidate(self, name: str) -> None:
        stage_dir = self._stage_dir(name)
        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)

    def content_hash(self, name: str) -> str | None:
        m = self.manifest(name)
        return m.get("content_hash") if m else None
