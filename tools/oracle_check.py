"""Local replica of the driver's correctness gate.

Runs every `queries()` entry through Spark AND its `oracle_sql()` through
DuckDB on the same parquet tables, then compares row count, sorted column
names, and an order-insensitive value hash (rows canonicalized to strings,
sorted, md5'd). Catches hash-relevant divergences (float formatting,
timestamp tz, column naming) before the driver does.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        # Mirror the driver's canonicalizer, which sorts a pandas frame and
        # dies on list cells ("unhashable type: 'list'"). Failing here keeps
        # local-green ⇒ driver-green: catalog queries must project arrays to
        # scalars (CSV/JSON strings) before returning.
        raise TypeError(
            "array-typed output column reached the canonicalizer; the "
            "driver's pandas sort cannot hash list cells — project arrays "
            "to strings in the catalog query"
        )
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "\x1f".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def resolve_requested(only: set[str], catalog: set[str]) -> set[str]:
    """Validate a requested row subset against the catalog.

    A typo'd name must be a hard error, not a silent no-op: PREGATE relies
    on this tool, and a misnamed row would otherwise shrink the checked set
    while still printing "FAILURES: none" (VERDICT r13 "what's wrong" #3).
    """
    unknown = sorted(only - catalog)
    if unknown:
        raise SystemExit(
            f"oracle_check: unknown query name(s) {unknown} — not in the "
            f"{len(catalog)}-row catalog; refusing to run a silently "
            "smaller set"
        )
    return only


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        # hard-fail on typos BEFORE the JVM spins up — a wasted session is
        # cheap, a silently smaller gate is not
        only = resolve_requested(only, set(qs))

    # Deliberately a VANILLA session (no engine confs): the external driver
    # builds its own plain SparkSession, so any catalog query that silently
    # depends on session.py's config would pass here but fail there. Round 1
    # shipped exactly that bug (nanosAsLong); keep the local gate honest.
    spark = (
        SparkSession.builder.appName("oracle-check")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        # operators with persisted intermediates (LSH buckets, shingle
        # postings) would otherwise accumulate cache across 36 queries
        spark.catalog.clearCache()
        if name not in oracles:
            print(f"{name:32s} rows-only: {len(srows)} rows ({t_spark:.1f}s spark)")
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        t_duck = time.time() - t0
        ok_rows = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        ok_hash = False
        if ok_rows and ok_schema:
            ok_hash = table_hash(scols, srows) == table_hash(dcols, drows)
        status = "OK" if (ok_rows and ok_schema and ok_hash) else "FAIL"
        print(
            f"{name:32s} {status}  rows {len(srows)}/{len(drows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'} "
            f"({t_spark:.1f}s spark, {t_duck:.1f}s duckdb)"
        )
        if status == "FAIL":
            failures.append(name)
            if ok_rows and ok_schema:
                # show a few mismatching canonical rows for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = {"\x1f".join(canon_cell(r[i]) for i in so) for r in srows}
                dset = {"\x1f".join(canon_cell(r[i]) for i in do) for r in drows}
                for row in list(sset - dset)[:3]:
                    print("   spark-only:", row.replace("\x1f", " | "))
                for row in list(dset - sset)[:3]:
                    print("   duck-only: ", row.replace("\x1f", " | "))
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
