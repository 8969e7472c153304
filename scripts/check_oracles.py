"""Pre-flight mirror of the driver's correctness gate.

Runs selected ``queries()`` entries through Spark AND their
``oracle_sql()`` mirror through DuckDB at sf0.01, then compares row
count, column names, and exact cell values (columns sorted by name, rows
sorted by all columns) — the same contract the driver value-hashes.  A
query that leaves a cached frame in the session's CacheManager fails too.

Usage: python scripts/check_oracles.py [query ...]   (default: all oracled)
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    import decimal

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # Decimal cells must FAIL against float cells like the driver's
            # compare does — surface the type, don't stringify it away
            df[c] = df[c].map(
                lambda v: f"dec:{v}" if isinstance(v, decimal.Decimal) else v
            ).astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    from pyspark.sql import SparkSession

    names = sys.argv[1:]
    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    if not names:
        names = [n for n in queries if n in oracles]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
    spark.catalog.clearCache()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF}/{t}.parquet'")

    failed = []
    timings = {}
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE (rows-only)")
            continue
        try:
            import time as _time

            t0 = _time.monotonic()
            sdf = queries[name](spark, SF).toPandas()
            t1 = _time.monotonic()
            if not cache_manager.isEmpty():
                # operators pin shared intermediates with localCheckpoint,
                # which Spark's ContextCleaner releases; a CacheManager
                # entry is a persist() nothing ever unpersists
                spark.catalog.clearCache()
                raise AssertionError("left a cached frame in the CacheManager")
            odf = con.sql(oracles[name]).df()
            t2 = _time.monotonic()
            timings[name] = (t1 - t0, t2 - t1)
            s, o = _canon(sdf), _canon(odf)
            if list(s.columns) != list(o.columns):
                raise AssertionError(f"schema {list(s.columns)} != {list(o.columns)}")
            if len(s) != len(o):
                raise AssertionError(f"rows {len(s)} != {len(o)}")
            # exact cell equality after canonicalization (floats included:
            # both sides round explicitly inside the queries)
            mism = (s.astype(str).values != o.astype(str).values).sum()
            if mism:
                diff_rows = (s.astype(str) != o.astype(str)).any(axis=1)
                print(s[diff_rows].head(3))
                print(o[diff_rows].head(3))
                raise AssertionError(f"{mism} mismatched cells")
            st, ot = timings[name]
            print(f"{name}: OK ({len(s)} rows) spark={st:.2f}s duckdb={ot:.2f}s")
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: FAIL — {exc}")
            failed.append(name)
    if timings:
        total_s = sum(t[0] for t in timings.values())
        total_o = sum(t[1] for t in timings.values())
        print(f"TOTAL spark={total_s:.1f}s duckdb={total_o:.1f}s")
        worst = sorted(timings.items(), key=lambda kv: -(kv[1][0] + kv[1][1]))[:10]
        for n, (st, ot) in worst:
            print(f"  heavy: {n} spark={st:.2f}s duckdb={ot:.2f}s")
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
