"""The full engine pipeline as checkpointed, resumable stages.

pages -> join_out -> knn_out -> tiles -> tile_counts -> tile_counts_z2,
each stage written through plans/checkpoint.StageRunner (parquet +
per-file lineage manifest). Both pipelines here are an ordered list of
`(name, build, partition_by)` stages run by one loop, `_run_stages`.
Killing the job between stages and re-running resumes from the last
complete stage — downstream recomputes, upstream is read back; content
hashes prove byte-stability across resumes (north-rule resumability).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..operators.knn import knn_ring_expansion
from ..operators.spatial import spatial_join
from ..operators.tiles import tile_class_rollup, tile_doc_counts, tile_zoom_rollup
from ..sources.pages import pages_from_documents
from .checkpoint import StageRunner

# (name, build, partition_by); `build` receives the frames of the stages
# before it, keyed by name
Stage = tuple[str, Callable[[dict[str, DataFrame]], DataFrame], tuple[str, ...]]

# run_corpus_pipeline's corpus selection (quality floor, then the md5-bucket
# sample) and its chunk export window; the oracle's pipeline twins read these
QUALITY_MIN = 0.7
SAMPLE_FRACTION = 0.5
CHUNK_SIZE, CHUNK_STRIDE = 64, 48


def _run_stages(
    spark: SparkSession, checkpoint_dir: str, stages: list[Stage], stop_after: str | None
) -> dict[str, DataFrame]:
    """Build-or-resume `stages` in order, stopping after the stage named
    `stop_after` (simulates a mid-job kill). An unknown name raises before
    any stage is written. Returns the stage DataFrames."""
    names = [name for name, _, _ in stages]
    if stop_after is not None and stop_after not in names:
        raise ValueError(f"unknown stop_after stage {stop_after!r}; stages are {names}")
    runner = StageRunner(spark, checkpoint_dir)
    out: dict[str, DataFrame] = {}
    for name, build, partition_by in stages:
        out[name] = runner.run(name, partial(build, out), partition_by)
        if name == stop_after:
            break
    return out


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    polygons: list[dict[str, Any]] | None = None,
    stop_after: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline. `stop_after` simulates a mid-job
    kill for resumability tests. Returns the stage DataFrames."""
    if polygons is None:
        from ..functions.convert_local import fixture_polygons

        polygons = fixture_polygons()

    def build_pages(_) -> DataFrame:
        from pyspark.sql import functions as F

        from ..functions.cellgrid import cell_id_col

        # partition the stored pages by a coarse cell prefix so regional
        # queries get partition pruning from the parquet layout for free
        pages = pages_from_documents(spark, sf_dir)
        return pages.withColumn("cell_r5", cell_id_col(F.col("lon"), F.col("lat"), 5))

    stages: list[Stage] = [
        ("pages", build_pages, ("cell_r5",)),
        ("join_out", lambda s: spatial_join(s["pages"], polygons, keep_cols=("text", "lang")), ()),
        ("knn_out", lambda s: knn_ring_expansion(s["pages"], polygons), ()),
        ("tiles", lambda s: tile_class_rollup(s["join_out"]), ()),
        ("tile_counts", lambda s: tile_doc_counts(s["pages"]), ()),
        # zoom pyramid: built from the TILE stage, not the fact table — each
        # coarser level costs a tiles-sized aggregation (the 100-TB shape)
        (
            "tile_counts_z2",
            lambda s: tile_zoom_rollup(s["tile_counts"].drop("n_langs")),
            (),
        ),
    ]
    return _run_stages(spark, checkpoint_dir, stages, stop_after)


def run_corpus_pipeline(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str, stop_after: str | None = None
) -> dict[str, DataFrame]:
    """The training-data twin of run_pipeline: documents -> analyze
    (langid/quality/tokens/fingerprint) -> exact dedup (fingerprint
    survivor rows) -> corpus (quality floor + deterministic sample) ->
    per-language stats, every stage a checkpointed parquet table with
    per-partition lineage, resumable mid-job. Quality fields are flattened
    to plain columns at the storage boundary (columnar-friendly, and the
    lineage hash canonicalizes primitives).

    Text passes through byte-identical: only FILTERS and projections touch
    rows after the analyze stage (the input_hint invariant holds through
    every stored stage)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import lsh_recall_monitor
    from ..operators.terms import duplicated_span_stats
    from ..operators.text import (
        SAMPLE_BUCKETS,
        analyze_documents,
        chunk_documents,
        pack_documents,
        sample_hash_col,
    )

    def build_analyzed(_) -> DataFrame:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = analyze_documents(docs)
        return a.select(
            *docs.columns,
            "lang_pred",
            F.col("quality.quality_score").alias("quality_score"),
            F.col("quality.mean_word_len").alias("mean_word_len"),
            "n_tokens_ws",
            "n_tokens_bpe",
            "fingerprint",
        )

    def build_deduped(s) -> DataFrame:
        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        return (
            s["analyzed"]
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    threshold = int(round(SAMPLE_FRACTION * SAMPLE_BUCKETS))
    stages: list[Stage] = [
        ("analyzed", build_analyzed, ()),
        ("deduped", build_deduped, ()),
        (
            "corpus",
            lambda s: (
                s["deduped"]
                .where(F.col("quality_score") >= QUALITY_MIN)
                .where(sample_hash_col(F.col("doc_id")) < threshold)
            ),
            (),
        ),
        (
            "corpus_stats",
            lambda s: s["corpus"].groupBy("lang_pred").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens_ws").alias("total_tokens_ws"),
                F.sum("n_tokens_bpe").alias("total_tokens_bpe"),
            ),
            (),
        ),
        # corpus QA stages: the span-level duplication profile (how much
        # cross-document boilerplate survived dedup) and the sampled LSH
        # recall report (is the near-dup banding still catching what exact
        # verification finds) — the two numbers a production corpus build
        # watches between dedup and export; both derive only from the stored
        # corpus stage
        ("span_stats", lambda s: duplicated_span_stats(s["corpus"]), ()),
        ("dedup_qa", lambda s: lsh_recall_monitor(s["corpus"]), ()),
        # training-data EXPORT stages: the cleaned corpus chunked into
        # overlapping context windows, and the same corpus packed into
        # fixed-capacity token streams (the two standard pre-training input
        # layouts); both derive only from the stored corpus stage, so a
        # resume after `corpus` never re-runs analyze/dedup
        ("chunks", lambda s: chunk_documents(s["corpus"], CHUNK_SIZE, CHUNK_STRIDE), ()),
        ("packed", lambda s: pack_documents(s["corpus"]), ()),
    ]
    return _run_stages(spark, checkpoint_dir, stages, stop_after)
