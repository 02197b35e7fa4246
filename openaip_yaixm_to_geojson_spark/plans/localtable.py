"""Tiny driver-side tables without per-evaluation Python task storms.

`spark.createDataFrame(list_of_rows)` parallelizes PICKLED rows over
defaultParallelism partitions; every action that re-evaluates the subtree
(each broadcast build, each loop round) re-schedules that many Python
deserialization tasks — measured ~0.3-0.4 s per evaluation for a 283-row
cover table on local[32], paid once per bench pass.

Two replacements, picked by size and schema:

- <= `MAX_LITERAL_ROWS` rows: a constant array of struct literals exploded
  over a one-row range. Catalyst constant-folds the array; evaluation is a
  single JVM task (~job floor). Single partition — exactly right for a
  broadcast side. NOT for bigger tables: hundreds of struct literals blow
  up codegen (a 852-row segs table measured 12.5 s vs 0.5 s).
- larger, or any nested (array/struct/map) field: pandas + explicit
  schema. Under Arrow the driver ships record batches and evaluation is
  JVM-only (~0.075 s vs 0.31 for the same cover);
  partitioning matches defaultParallelism, so streamed-side consumers keep
  their scan parallelism. Without Arrow (--default-session) it degrades to
  the pickle path, correctness unchanged (schema is explicit either way —
  the r6 arrow-conf-dependent-dtype lesson). Nested values take this path
  at any size: `F.lit` builds no struct values, and a literal per nested
  element is the expression growth the row cap exists to avoid.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_LITERAL_ROWS = 64


def literal_table(
    spark: SparkSession,
    rows: Iterable[tuple | list | dict[str, Any]],
    schema: T.StructType | str,
) -> DataFrame:
    """rows + StructType (or DDL string) -> DataFrame with the schema's
    exact field names/types, built so that re-evaluation costs no Python
    tasks. Falls back to createDataFrame for empty input. A None in a field
    declared non-nullable raises ValueError, as createDataFrame does."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema=schema)
    fields = schema.fields

    def cell_value(row, i, f):
        return row[f.name] if isinstance(row, dict) else row[i]

    required = [(i, f) for i, f in enumerate(fields) if not f.nullable]
    for row in rows:
        for i, f in required:
            if cell_value(row, i, f) is None:
                raise ValueError(f"field {f.name} is not nullable, but got None")

    nested = any(isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)) for f in fields)
    if len(rows) <= MAX_LITERAL_ROWS and not nested:
        structs = [
            F.struct(
                *[
                    F.lit(cell_value(row, i, f)).cast(f.dataType).alias(f.name)
                    for i, f in enumerate(fields)
                ]
            )
            for row in rows
        ]
        return (
            spark.range(1)
            .select(F.explode(F.array(*structs)).alias("_r"))
            .select("_r.*")
        )

    import pandas as pd

    pdf = pd.DataFrame(
        [tuple(cell_value(row, i, f) for i, f in enumerate(fields)) for row in rows],
        columns=[f.name for f in fields],
    )
    return spark.createDataFrame(pdf, schema=schema)
