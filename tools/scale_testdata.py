"""Build a measurement-only scaled replica of an sf dir (default: sf0.1 x10,
matching the driver's sf1.0 row counts: 50k docs / 1M events / 20k embeddings).

Usage: python tools/scale_testdata.py [src_dir] [dst_dir] [factor]

NOT part of any query path — this exists so bench_extra.py can measure at
driver scale when the driver-generated sf1.0 directory is absent. Copies are
deterministic (seeded on (copy, row)) and perturbed so they do not create
artificial near-duplicate structure:

- documents: per-doc word shuffle keyed (copy, doc_id) — keeps the vocabulary
  and word-count distribution (tf-idf/BM25/charlm workloads stay realistic)
  while decorrelating shingle sequences across copies (minhash/jaccard
  candidate volume scales ~linearly instead of exploding);
- events: disjoint user/event id ranges per copy, timestamps unchanged;
- embeddings: vectors np.roll'd by the copy index (norm-preserving, moves
  LSH bucket assignment).

TPCH side tables are copied through unchanged.
"""

from __future__ import annotations

import random
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _copies(factor: int) -> range:
    """Copy indices after the source table (copy 0); factor 1 is a plain copy."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1 (got {factor})")
    return range(1, factor)


def scale_documents(src: Path, dst: Path, factor: int) -> None:
    t = pq.read_table(src / "documents.parquet")
    n = t.num_rows
    doc_id = t.column("doc_id").to_numpy()
    text = t.column("text").to_pylist()
    lang = t.column("lang")
    source = t.column("source")
    parts = [t]
    for c in _copies(factor):
        new_text = []
        for i, s in enumerate(text):
            words = s.split(" ")
            random.Random((c << 32) | int(doc_id[i])).shuffle(words)
            new_text.append(" ".join(words))
        arr_text = pa.array(new_text, type=pa.string())
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(doc_id + c * n, type=pa.int64()),
                    "text": arr_text,
                    "lang": lang,
                    "source": source,
                    "n_chars": pa.array(
                        [len(s) for s in new_text], type=pa.int64()
                    ),
                }
            )
        )
    out = pa.concat_tables([p.select(parts[0].column_names) for p in parts])
    pq.write_table(out, dst / "documents.parquet")


def scale_events(src: Path, dst: Path, factor: int) -> None:
    t = pq.read_table(src / "events.parquet")
    n = t.num_rows
    event_id = t.column("event_id").to_numpy()
    user_id = t.column("user_id").to_numpy()
    user_span = int(user_id.max()) + 1
    parts = [t]
    for c in _copies(factor):
        parts.append(
            pa.table(
                {
                    "event_id": pa.array(event_id + c * n, type=pa.int64()),
                    "ts": t.column("ts"),
                    "user_id": pa.array(user_id + c * user_span, type=pa.int64()),
                    "event_type": t.column("event_type"),
                    "value": t.column("value"),
                    "props": t.column("props"),
                }
            )
        )
    out = pa.concat_tables([p.select(parts[0].column_names) for p in parts])
    pq.write_table(out, dst / "events.parquet")


def scale_embeddings(src: Path, dst: Path, factor: int) -> None:
    t = pq.read_table(src / "embeddings.parquet")
    n = t.num_rows
    vec_id = t.column("vec_id").to_numpy()
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    parts = [t]
    for c in _copies(factor):
        rolled = np.roll(mat, c, axis=1)
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(vec_id + c * n, type=pa.int64()),
                    "embedding": pa.array(
                        [row for row in rolled.tolist()],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": t.column("label"),
                }
            )
        )
    out = pa.concat_tables([p.select(parts[0].column_names) for p in parts])
    pq.write_table(out, dst / "embeddings.parquet")


def main() -> None:
    src = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
    dst = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata_x10/sf1.0x")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    dst.mkdir(parents=True, exist_ok=True)
    scale_documents(src, dst, factor)
    scale_events(src, dst, factor)
    scale_embeddings(src, dst, factor)
    for f in src.iterdir():
        if f.suffix == ".parquet" and not (dst / f.name).exists():
            shutil.copy(f, dst / f.name)
    for name in ["documents", "events", "embeddings"]:
        print(name, pq.ParquetFile(dst / f"{name}.parquet").metadata.num_rows)


if __name__ == "__main__":
    main()
