"""The benchmark's workloads. Each one writes its seeded inputs in setup,
runs a pass by calling the engine's public functions, checks every pass's
output, and, for the traced run, forces the layers a pass goes through one
at a time.

Sizes are chosen so that a run (session start, three set-ups, a cold pass,
the warm passes and the checks) takes one to two minutes on a 4-core host.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Any

import numpy as np

from . import gen
from .trace import (
    StatusSnapshot,
    Tracer,
    attach_counters,
    force,
    metric_sum,
    plan_nodes,
    python_seconds,
    walk_checkpoints,
)

# one page in SAMPLE_MOD is re-checked against a NumPy brute force
SAMPLE_MOD = 1000
RING_TOL = 1e-6


def _rollup_rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: (r[0] is None, r[0] or 0, r[1] is None, r[1] or ""),
    )


def rebuilt(before: dict[str, dict[str, Any]], after: dict[str, dict[str, Any]]) -> list[str]:
    """Stages whose manifest a resume wrote again. `StageRunner` promises
    to read a complete stage back; a rebuild keeps the output (the content
    hash check catches a wrong one) but costs the stage's full time, so it
    shows in the pass time rather than as a failure."""
    return sorted(name for name in before if after.get(name) != before[name])


def checkpoint_metrics(stages: dict[str, dict[str, Any]]) -> dict[str, float]:
    m = {f"checkpoint.{name}.wall_s": st["wall_s"] for name, st in stages.items()}
    m["checkpoint.wall_s"] = sum(st["wall_s"] for st in stages.values())
    m["checkpoint.bytes_written"] = sum(st["bytes"] for st in stages.values())
    m["checkpoint.files"] = sum(st["files"] for st in stages.values())
    return m


def traced_point_side(tracer: Tracer, pages, polygons: list[dict[str, Any]], m: dict[str, float], knn: bool = False):
    """Inside the open layers span: scan -> cell encode -> cover -> join ->
    tile rollup (-> kNN), each step forced on its own. A step re-runs the
    steps it builds on, so a layer's time is its step minus those steps.
    Returns `finish(snapshot)`, which fills `m` once the status store can
    be read."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.functions.cellgrid import cell_id_col
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_ring_expansion
    from openaip_yaixm_to_geojson_spark.operators.spatial import DEFAULT_JOIN_RES, polygon_cover_df, spatial_join
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup

    plans = []
    with tracer.span("sources.pages_scan") as scan:
        force(pages)
    with tracer.span("cellgrid.encode") as enc:
        force(pages.withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_JOIN_RES)))
    with tracer.span("spatial.cover") as cov:
        m["spatial.cover_rows"], _ = force(polygon_cover_df(pages.sparkSession, polygons))
    with tracer.span("spatial.join") as join:
        joined = spatial_join(pages, polygons)
        m["spatial.matched"], qe = force(joined)
    nodes = plan_nodes(qe)
    plans.append((join, nodes))
    with tracer.span("tiles.rollup") as roll:
        force(tile_class_rollup(joined))
    if knn:
        with tracer.span("knn") as knn_span:
            _, qe = force(knn_ring_expansion(pages, polygons))
        plans.append((knn_span, plan_nodes(qe)))

    def finish(snap: StatusSnapshot) -> None:
        attach_counters(tracer, snap)
        for span, span_nodes in plans:
            tracer.add(span, "python_s", python_seconds(span_nodes))
        m["sources.pages_scan_s"] = scan.duration
        m["cellgrid.encode_s"] = enc.duration - scan.duration
        m["spatial.cover_s"] = cov.duration
        m["spatial.join_s"] = join.duration - enc.duration - cov.duration
        m["spatial.candidates"] = max(
            (n["metrics"].get("numOutputRows", 0.0) for n in nodes if n["name"] == "BroadcastHashJoin"), default=0.0
        )
        m["spatial.pip_accept_ratio"] = m["spatial.matched"] / m["spatial.candidates"] if m["spatial.candidates"] else 0.0
        m["spatial.python_s"] = python_seconds(nodes)
        m["spatial.broadcast_bytes"] = metric_sum(nodes, "BroadcastExchange", "dataSize")
        m["tiles.rollup_s"] = roll.duration - join.duration
        m["tiles.shuffle_write_bytes"] = roll.counters["shuffle_write_bytes"]
        if knn:
            m["knn.s"] = knn_span.duration - scan.duration
            for key in ("jobs", "shuffle_write_bytes", "spill_bytes"):
                m[f"knn.{key}"] = knn_span.counters[key]

    return finish


class JoinTiles:
    """Seeded synthetic pages (parquet) x the 14 fixture polygons:
    `spatial_join` (driver list, broadcast) -> `tile_class_rollup`."""

    name = "join_tiles"
    n_pages = 1_000_000

    @property
    def rows(self) -> int:
        return self.n_pages

    def generate(self, spark, seed: int, dest: str) -> None:
        gen.pages_df(spark, seed, self.n_pages).write.parquet(os.path.join(dest, "pages"))

    def open(self, spark, inputs: str, work: str) -> None:
        from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons

        self.spark = spark
        self.pages = spark.read.parquet(os.path.join(inputs, "pages"))
        self.polys = fixture_polygons()
        self.reference: list[tuple] | None = None

    def _join(self):
        from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join

        return spatial_join(self.pages, self.polys)

    def _rollup(self):
        from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup

        return tile_class_rollup(self._join())

    def run_pass(self) -> list[tuple]:
        return _rollup_rows(self._rollup())

    # -- checks ------------------------------------------------------------

    def check_run(self) -> list[str]:
        """Once per run: a sampled ~1/1000 of pages joined by the engine
        must equal a NumPy brute force with `points_in_ring_winding`; the
        join count is kept for the per-pass rollup check."""
        from pyspark.sql import functions as F

        from openaip_yaixm_to_geojson_spark.functions.geodesy import points_in_ring_winding

        sampled = F.pmod(F.xxhash64("url"), F.lit(SAMPLE_MOD)) == 0
        sample = self.pages.where(sampled).toPandas()
        lons, lats = sample["lon"].to_numpy(), sample["lat"].to_numpy()
        expected = set()
        for p in self.polys:
            inside = points_in_ring_winding(lons, lats, np.asarray(p["ring"], dtype=np.float64))
            expected |= {(u, int(p["poly_id"])) for u in sample["url"][inside]}
        # one job: the join count and the sampled pairs
        agg = self._join().agg(
            F.count(F.lit(1)).alias("n"), F.collect_list(F.when(sampled, F.struct("url", "poly_id"))).alias("pairs")
        ).first()
        self.join_count = agg["n"]
        got = {(r["url"], int(r["poly_id"])) for r in agg["pairs"]}
        errors = []
        if got != expected:
            errors.append(f"sampled join differs from brute force: {len(got ^ expected)} pairs")
        if not expected:
            errors.append("sampled join is empty")
        return errors

    def check_pass(self, rows: list[tuple]) -> list[str]:
        leaves = sum(r[2] for r in rows if r[0] is not None and r[1] is not None)
        subtotals = sum(r[2] for r in rows if r[0] is not None and r[1] is None)
        grand = [r[2] for r in rows if r[0] is None and r[1] is None]
        errors = []
        if grand != [self.join_count] or leaves != self.join_count or subtotals != self.join_count:
            errors.append(f"rollup sums {leaves}/{subtotals}/{grand} != join count {self.join_count}")
        if self.reference is None:
            self.reference = rows
        elif rows != self.reference:
            errors.append("rollup differs from the first pass")
        return errors

    # -- traced run ----------------------------------------------------------

    def traced_layers(self, tracer: Tracer, result: list[tuple]) -> dict[str, float]:
        m: dict[str, float] = {}
        with tracer.span("layers"):
            finish = traced_point_side(tracer, self.pages, self.polys, m)
        finish(StatusSnapshot(self.spark))
        return m


class PipelineResume:
    """A seeded 5,000-document corpus and six seeded YAIXM documents. A pass
    converts the YAIXM documents with the engine (`airspaces_from_yaml_docs`
    -> `convert_airspaces` -> valid polygons), runs `run_pipeline` into a
    fresh checkpoint directory, then resumes: the same call again on the
    complete directory.

    The airspaces lie over the Aberdeen page cluster only (`gen.yaixm_docs`),
    so no page of the largest `pages` file joins and the first part file
    Spark writes for `join_out` is empty. `StageRunner`'s manifest lists
    only files that hold rows, so every resume rebuilds `join_out` (and
    `rebuilt` reports it); a fix to that shows in `warm_s`."""

    name = "pipeline_resume"
    n_docs = 5_000
    yaixm_copies = 1
    stages = ("pages", "join_out", "knn_out", "tiles", "tile_counts", "tile_counts_z2")

    @property
    def rows(self) -> int:
        return self.n_docs

    def generate(self, spark, seed: int, dest: str) -> None:
        os.makedirs(os.path.join(dest, "sf"))
        gen.documents(seed, self.n_docs).to_parquet(os.path.join(dest, "sf", "documents.parquet"), index=False)
        gen.yaixm_docs(seed, self.yaixm_copies).to_parquet(os.path.join(dest, "yaixm.parquet"), index=False)

    def open(self, spark, inputs: str, work: str) -> None:
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.sf_dir = os.path.join(inputs, "sf")
        self.n_pass = 0
        self.resume_s: list[float] = []
        self.reference: dict[str, str] | None = None

    def _features(self):
        from openaip_yaixm_to_geojson_spark.operators.convert import convert_airspaces
        from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_yaml_docs

        docs = self.spark.read.parquet(os.path.join(self.inputs, "yaixm.parquet"))
        return convert_airspaces(airspaces_from_yaml_docs(docs), fix_geometries=True)

    @staticmethod
    def _valid(features):
        from openaip_yaixm_to_geojson_spark.operators.convert import split_quarantine

        clean, _ = split_quarantine(features)
        return clean.where("valid").select("doc_id", "block_idx", "seq_idx", "name", "type", "class", "ring")

    def _polygons(self, features=None) -> list[dict[str, Any]]:
        rows = sorted(
            self._valid(self._features() if features is None else features).collect(),
            key=lambda r: (r["doc_id"], r["block_idx"], r["seq_idx"]),
        )
        return [
            {
                "poly_id": i,
                "key": (r["doc_id"], r["block_idx"], r["seq_idx"]),
                "name": r["name"],
                "type": r["type"],
                "class": r["class"],
                "ring": np.asarray(r["ring"], dtype=np.float64),
            }
            for i, r in enumerate(rows)
        ]

    def _run(self, polygons, ckpt: str) -> None:
        from openaip_yaixm_to_geojson_spark.plans.pipeline import run_pipeline

        run_pipeline(self.spark, self.sf_dir, ckpt, polygons=polygons)

    def run_pass(self) -> dict[str, Any]:
        ckpt = os.path.join(self.work, f"ckpt-{self.n_pass}")
        self.n_pass += 1
        polygons = self._polygons()
        self._run(polygons, ckpt)
        fresh = walk_checkpoints(ckpt)
        start = time.perf_counter()
        self._run(polygons, ckpt)
        self.resume_s.append(time.perf_counter() - start)
        resumed = walk_checkpoints(ckpt)
        return {
            "hashes": {k: v["content_hash"] for k, v in fresh.items()},
            "resumed_hashes": {k: v["content_hash"] for k, v in resumed.items()},
            "rebuilt": rebuilt(fresh, resumed),
            "polygons": polygons,
            "ckpt": ckpt,
        }

    # -- checks ------------------------------------------------------------

    def check_run(self) -> list[str]:
        """The expected rings: the driver-side converter
        (`convert_local.convert_blocks`) over the same YAML documents."""
        import pandas as pd
        import yaml

        from openaip_yaixm_to_geojson_spark.functions.convert_local import convert_blocks

        docs = pd.read_parquet(os.path.join(self.inputs, "yaixm.parquet"))
        self.expected_rings = {}
        for doc_id, text in zip(docs["doc_id"], docs["yaml"]):
            for b, block in enumerate(yaml.safe_load(text)["airspace"]):
                for s, feat in enumerate(convert_blocks([block], fix_geometries=True)):
                    self.expected_rings[(doc_id, b, s)] = np.asarray(feat["ring"], dtype=np.float64)
        return []

    def _check_rings(self, polygons: list[dict[str, Any]]) -> list[str]:
        """Every converted ring equals the driver-side converter's to 1e-6
        with the same vertex count."""
        got = {p["key"]: p["ring"] for p in polygons}
        want = self.expected_rings
        errors = []
        if set(got) != set(want):
            errors.append(f"converted polygons {sorted(set(got) ^ set(want))} differ from convert_blocks")
        for key in set(got) & set(want):
            if got[key].shape != want[key].shape or np.abs(got[key] - want[key]).max() > RING_TOL:
                errors.append(f"ring {key} differs from convert_blocks")
        return errors

    def check_pass(self, result: dict[str, Any]) -> list[str]:
        import pyarrow.parquet as pq

        errors = self._check_rings(result["polygons"])
        if set(result["hashes"]) != set(self.stages):
            errors.append(f"stages {sorted(result['hashes'])} incomplete")
        if self.reference is None:
            self.reference = result["hashes"]
            # text passes through byte-identical per url
            docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet")).to_pandas()
            want = dict(zip("https://" + docs["source"] + ".example/" + docs["doc_id"].astype(str), docs["text"]))
            pages = pq.read_table(os.path.join(result["ckpt"], "pages"), columns=["url", "text"]).to_pandas()
            if len(pages) != len(want) or any(want.get(u) != t for u, t in zip(pages["url"], pages["text"])):
                errors.append("pages stage text is not byte-identical to the documents")
        elif result["hashes"] != self.reference:
            errors.append("stage content hashes differ between passes")
        if result["resumed_hashes"] != self.reference:
            errors.append("resumed stage content hashes differ from the passes")
        return errors

    # -- traced run ----------------------------------------------------------

    def traced_layers(self, tracer: Tracer, result: dict[str, Any]) -> dict[str, float]:
        from openaip_yaixm_to_geojson_spark.operators.convert import split_quarantine
        from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents
        from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_yaml_docs

        m: dict[str, float] = {}
        with tracer.span("layers"):
            with tracer.span("sources.yaml_parse") as parse:
                docs = self.spark.read.parquet(os.path.join(self.inputs, "yaixm.parquet"))
                _, qe = force(airspaces_from_yaml_docs(docs))
            parse_py = python_seconds(plan_nodes(qe))
            with tracer.span("convert") as conv:
                feats = self._features()
                m["convert.features"], qe = force(feats)
            conv_py = python_seconds(plan_nodes(qe))
            with tracer.span("convert.quarantine"):
                m["convert.quarantined"] = split_quarantine(feats)[1].count()
            with tracer.span("convert.polygons"):
                polygons = self._polygons(feats)
            # the layers run_pipeline calls, forced one by one on its inputs
            finish = traced_point_side(tracer, pages_from_documents(self.spark, self.sf_dir), polygons, m, knn=True)
        finish(StatusSnapshot(self.spark))
        tracer.add(parse, "python_s", parse_py)
        tracer.add(conv, "python_s", conv_py)
        m.update(checkpoint_metrics(walk_checkpoints(result["ckpt"])))
        m["checkpoint.resume_rebuilds"] = len(result["rebuilt"])
        m["checkpoint.resume_s"] = statistics.median(self.resume_s)
        m["sources.yaml_parse_s"] = parse.duration
        m["sources.yaml_parse.python_s"] = parse_py
        m["convert.s"] = conv.duration - parse.duration
        m["convert.python_s"] = conv_py - parse_py
        return m


WORKLOADS = {w.name: w for w in (JoinTiles, PipelineResume)}
