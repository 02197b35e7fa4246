"""WARC source: real Common-Crawl-style `.warc.gz` files, stdlib-only.

The north star's input is a Common-Crawl-style web-page table; the actual
Common Crawl interchange format is WARC — concatenated PER-RECORD gzip
members (so a reader can seek to any record boundary and inflate one
member), each member a `WARC/1.0` response record: CRLF header block,
blank line, `Content-Length` payload bytes, two CRLFs. gzip is stdlib
zlib, so both sides of the format are REAL here:

* `make_warc_gz` writes spec-shaped multi-member `.warc.gz` bytes (each
  record its own gzip member — the Common Crawl layout; `gzip -dc`
  round-trips the file);
* `read_warc` ingests a directory of them DISTRIBUTED: Spark's
  `binaryFile` source gives one row per file, a mapInPandas worker walks
  gzip members with `zlib.decompressobj(wbits=31)` + `unused_data`
  (never loads more than one member's inflate output at a time beyond the
  file bytes Arrow already shipped), parses the WARC header block and
  emits (url, warc_ts_s, html). Files parallelize across the cluster;
  100-TB ingest is #files-way parallel, the exact shape production WARC
  readers use.

Determinism: record content derives from (file_id, rec_id) via md5
chains, so the DuckDB oracle recomputes every extracted row — the gzip
round-trip itself is hash-gated (the PNG-codec precedent).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WARC_EPOCH = 1704067200  # 2024-01-01T00:00:00Z — shared literal
WARC_FILES, WARC_RECORDS_PER_FILE = 6, 50  # the directory the warc_read query writes


def record_url(file_id: int, rec_id: int) -> str:
    return f"https://warc.example/{file_id}/{rec_id}"


def record_ts_s(file_id: int, rec_id: int) -> int:
    return WARC_EPOCH + file_id * 86_400 + rec_id * 37


def record_html(file_id: int, rec_id: int) -> str:
    filler = hashlib.md5(f"warc-{file_id}-{rec_id}".encode()).hexdigest()
    return (
        f"<html><head><title>page {file_id}/{rec_id}</title></head>"
        f"<body><p>crawl body {filler}</p></body></html>"
    )


def _iso(ts_s: int) -> str:
    import datetime

    return (
        datetime.datetime.fromtimestamp(ts_s, datetime.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ")
    )


def make_warc_record(file_id: int, rec_id: int) -> bytes:
    payload = record_html(file_id, rec_id).encode("utf-8")
    headers = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {record_url(file_id, rec_id)}\r\n"
        f"WARC-Date: {_iso(record_ts_s(file_id, rec_id))}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "Content-Type: text/html\r\n"
        "\r\n"
    ).encode("ascii")
    return headers + payload + b"\r\n\r\n"


def make_warc_gz(file_id: int, n_records: int) -> bytes:
    """Concatenated per-record gzip members — the Common Crawl layout."""
    out = bytearray()
    for rec_id in range(n_records):
        co = zlib.compressobj(9, zlib.DEFLATED, 31)  # wbits 31 = gzip framing
        out += co.compress(make_warc_record(file_id, rec_id)) + co.flush()
    return bytes(out)


def write_warc_dir(path: str, n_files: int, records_per_file: int) -> None:
    import os

    os.makedirs(path, exist_ok=True)
    for fid in range(n_files):
        with open(os.path.join(path, f"crawl-{fid:05d}.warc.gz"), "wb") as fh:
            fh.write(make_warc_gz(fid, records_per_file))


def _split_members(blob: bytes) -> Iterator[bytes]:
    """Inflate concatenated gzip members one at a time. A truncated or
    corrupt final member must fail loudly (d.eof check) rather than
    silently yield partial record bytes (r5 advice)."""
    rest = blob
    while rest:
        d = zlib.decompressobj(wbits=31)
        data = d.decompress(rest)
        if not d.eof:
            raise ValueError("truncated gzip member in WARC blob")
        yield data
        rest = d.unused_data


def parse_warc_record(record: bytes) -> tuple[str, int, bytes]:
    """(url, warc_ts_s, payload) from one WARC record's bytes."""
    import datetime

    head, _, tail = record.partition(b"\r\n\r\n")
    headers: dict[str, str] = {}
    for line in head.decode("ascii").split("\r\n")[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    n = int(headers["content-length"])
    ts = datetime.datetime.strptime(
        headers["warc-date"], "%Y-%m-%dT%H:%M:%SZ"
    ).replace(tzinfo=datetime.timezone.utc)
    return headers["warc-target-uri"], int(ts.timestamp()), tail[:n]


WARC_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts_s", T.LongType(), False),
        T.StructField("html", T.BinaryType(), False),
    ]
)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC ingest: one binaryFile row per `.warc.gz`, gzip
    members walked and parsed inside mapInPandas — files spread across
    the cluster, no driver-side IO."""
    # a filter on the directory, not a glob path: Spark probes a glob path
    # for streaming-sink metadata first and logs the failed lookup
    reader = spark.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
    files = reader.load(path).select("content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for member in _split_members(bytes(blob)):
                    url, ts_s, payload = parse_warc_record(member)
                    rows.append((url, ts_s, payload))
            yield pd.DataFrame(rows, columns=["url", "warc_ts_s", "html"])

    return files.mapInPandas(run, schema=WARC_OUT_SCHEMA)
