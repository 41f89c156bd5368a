"""Local stand-in for the driver's duckdb-oracle correctness gate.

Runs every registry query through Spark AND its oracle SQL through DuckDB
on the same parquet tables, then compares row count, column names and
order-insensitive values (columns sorted by name, rows sorted, floats
compared bitwise after canonicalization).

Usage:  python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_big_query_connector_spark import plans  # noqa: E402
from flink_big_query_connector_spark.cache import release_caches  # noqa: E402
from flink_big_query_connector_spark.session import get_spark  # noqa: E402
from flink_big_query_connector_spark.sources.tables import TABLES  # noqa: E402


class UncanonicalizableCell(Exception):
    """A result cell the DRIVER's pandas-based canonicalizer cannot
    hash/sort (bytes, lists, ...).  The r9 driver round failed 3 keys
    this way while this checker's old bytes->hex / list rescue passed
    them locally — so strictness here is deliberately driver-identical:
    such a cell is a FAIL, never rescued."""


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full round-trip precision — bitwise comparison
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, (bytes, bytearray, list, tuple, dict, set)):
        raise UncanonicalizableCell(
            f"{type(v).__name__} cell {v!r:.60} is unhashable for the "
            "driver's pandas canonicalizer; surface it as hex/joined "
            "string/exploded rows instead"
        )
    return f"{type(v).__name__}:{v}"


# DuckDB top-level result types the driver's pandas fetch cannot
# canonicalize: BLOB/LIST/STRUCT/MAP are unhashable cells, HUGEINT and
# DECIMAL(p>18) fetch as float64/Decimal and hash-mismatch Spark int64
# even when every value is equal (the r8/r9 llm_corpus_export red).
_BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "BLOB", "STRUCT", "MAP", "UNION")
_BANNED_SPARK_TYPES = ("BinaryType", "ArrayType", "MapType", "StructType")


def duck_type_violations(con, sql: str) -> list[str]:
    """DESCRIBE the oracle and list driver-uncanonicalizable columns."""
    out = []
    for col, typ, *_ in con.execute("DESCRIBE " + sql).fetchall():
        t = typ.upper()
        if any(b in t for b in _BANNED_DUCK_TYPES) or "[]" in t:
            out.append(f"{col}:{typ}")
        elif t.startswith("DECIMAL"):
            prec = int(t.split("(")[1].split(",")[0])
            if prec > 18:
                out.append(f"{col}:{typ}")
    return out


def spark_type_violations(schema) -> list[str]:
    """List top-level Spark result columns the driver cannot sort/hash."""
    return [
        f"{f.name}:{type(f.dataType).__name__}"
        for f in schema.fields
        if type(f.dataType).__name__ in _BANNED_SPARK_TYPES
    ]


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon_value(r[i]) for i in order))
    out.sort()
    return sorted(c for c in cols), out


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark("correctness-check", cpus=8, shuffle_partitions=8)

    registry = plans.REGISTRY
    selected = names or sorted(registry)
    n_pass = n_fail = n_rowsonly = 0
    for name in selected:
        qd = registry[name]
        t0 = time.time()
        try:
            sdf = qd.fn(spark, sf_dir)
            scols = sdf.columns
            bad_s = spark_type_violations(sdf.schema)
            if bad_s:
                print(f"FAIL {name}: driver-uncanonicalizable Spark "
                      f"output columns: {bad_s}")
                n_fail += 1
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # in finally: a throwing query must not leak its scoped
            # persists into every subsequent query's timing/memory
            release_caches(spark)
        if qd.oracle is None:
            print(f"ROWS-ONLY {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            bad_o = duck_type_violations(con, qd.oracle)
            if bad_o:
                print(f"FAIL {name}: driver-uncanonicalizable oracle "
                      f"output columns: {bad_o}")
                n_fail += 1
                continue
            cur = con.execute(qd.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            sc, sr = canon_rows(scols, srows)
            oc, orr = canon_rows(ocols, orows)
        except UncanonicalizableCell as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if sc != oc:
            print(f"FAIL {name}: columns differ spark={sc} duck={oc}")
            n_fail += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(orr)}")
            n_fail += 1
            continue
        if sr != orr:
            bad = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {bad}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(sr)} rows  ({time.time()-t0:.1f}s)")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
