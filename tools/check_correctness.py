"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and the matching oracle_sql() on DuckDB over the
same parquet tables; compare row count, schema arity and an
order-insensitive value fingerprint (columns sorted by name, rows sorted).
A query without an oracle counts as a failure.

Usage: python tools/check_correctness.py [--default-session] [sf_dir] [only_query ...]

An only_query name that queries() does not know exits with status 2
before Spark starts.

--default-session runs the sweep under a VANILLA SparkSession (no AQE /
Arrow / UTC / shuffle-partition tuning — the driver harness's environment,
round-5 lesson: conf-dependent bugs are invisible when the gate shares
build_session with the code under test). local[8] is kept so the sweep
finishes; everything else is Spark defaults (200 shuffle partitions,
arrow OFF).
"""

from __future__ import annotations

import math
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(value):
    if value is None:
        return "\x00"
    if isinstance(value, bool):
        return "T" if value else "F"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return repr(value)
    if isinstance(value, int):
        return repr(value)
    try:
        import decimal

        if isinstance(value, decimal.Decimal):
            return repr(float(value))
    except ImportError:
        pass
    return str(value)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.sha256()
    for row in canon_rows:
        h.update(row.encode("utf-8", "surrogateescape"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    argv = list(sys.argv[1:])
    default_session = "--default-session" in argv
    if default_session:
        argv.remove("--default-session")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}")
        sys.exit(2)

    if default_session:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-correctness-default")
            .master("local[8]")
            .config("spark.ui.enabled", "false")
            # display-only: keep the sweep log readable (not a semantic conf)
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
            .getOrCreate()
        )
        print("session mode: DEFAULT (vanilla confs, arrow off, 200 shuffle partitions)")
    else:
        from openaip_yaixm_to_geojson_spark.plans.session import build_session

        spark = build_session(app_name="check-correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    oracles = entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        if name not in oracles:
            failures.append((name, "no oracle"))
            print(f"{name:28s} NO ORACLE")
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"{name:28s} SPARK ERROR: {str(exc)[:200]}")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            orows = [tuple(r) for r in res.fetchall()]
        except Exception as exc:
            failures.append((name, f"ORACLE ERROR: {exc}"))
            print(f"{name:28s} ORACLE ERROR: {str(exc)[:200]}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            fs = fingerprint([c.lower() for c in scols], srows)
            fo = fingerprint([c.lower() for c in ocols], orows)
            if fs != fo:
                problems.append("value-hash mismatch")
                # show a few differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i].lower())
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i].lower())
                set_s = {tuple(canon(r[i]) for i in order_s) for r in srows}
                set_o = {tuple(canon(r[i]) for i in order_o) for r in orows}
                for d in list(set_s - set_o)[:3]:
                    problems.append(f"  spark-only: {d}")
                for d in list(set_o - set_s)[:3]:
                    problems.append(f"  oracle-only: {d}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"{name:28s} MISMATCH: " + "; ".join(problems))
        else:
            print(f"{name:28s} OK rows={len(srows):6d}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES of {checked} queries")
        sys.exit(1)
    print(f"ALL MATCH: {checked} queries")


if __name__ == "__main__":
    main()
