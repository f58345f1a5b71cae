"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir, compare row count,
column-name set, and the order-insensitive multiset of values (exact equality
— the engine is DESIGNED to be hash-identical, floats rounded at 4dp on both
sides).  The session cache is cleared before each face; a face that leaves
an entry in it (a persisted frame nobody unpersists) prints LEAK and counts
as a failure.

The last line gives the sweep wall and the five slowest faces, each split
into its Spark time (plan, run, collect) and its DuckDB oracle time.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    if isinstance(v, float):
        # exact comparison is intended; normalize -0.0 and int-valued floats
        if v == 0:
            return 0.0
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, normalize(x)) for k, x in v.items()))
    return v


def row_key(row: dict, cols: list[str]):
    return tuple(normalize(row[c]) for c in cols)


def check_face(spark, con, cache_manager, oracles, name, fn, sf_dir,
               split: dict[str, float]) -> int:
    """Run one face on Spark and its oracle on DuckDB, print its verdict
    line(s); returns how many failures it counted (a LEAK is one more).
    `split` receives the face's Spark and DuckDB seconds."""
    failures = 0
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    try:
        sdf = fn(spark, sf_dir)
        srows = [r.asDict(recursive=True) for r in sdf.collect()]
        scols = sorted(sdf.columns)
    except Exception as exc:
        print(f"FAIL  {name}: spark error: {exc}")
        return failures + 1
    finally:
        split["spark"] = time.perf_counter() - t0
    if not cache_manager.isEmpty():
        print(f"LEAK  {name}")
        failures += 1
    if name not in oracles:
        print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only check)")
        if len(srows) == 0:
            print(f"      WARNING: zero rows")
        return failures
    t0 = time.perf_counter()
    try:
        ddf = con.execute(oracles[name]).fetchdf()
    except Exception as exc:
        print(f"FAIL  {name}: duckdb error: {exc}")
        return failures + 1
    finally:
        split["duckdb"] = time.perf_counter() - t0
    dcols = sorted(ddf.columns)
    if scols != dcols:
        print(f"FAIL  {name}: columns differ spark={scols} duckdb={dcols}")
        return failures + 1
    drows = ddf.to_dict("records")
    if len(srows) != len(drows):
        print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
        return failures + 1
    s_ms = Counter(row_key(r, scols) for r in srows)
    d_ms = Counter(row_key(r, dcols) for r in drows)
    if s_ms != d_ms:
        only_s = list((s_ms - d_ms).items())[:3]
        only_d = list((d_ms - s_ms).items())[:3]
        print(f"FAIL  {name}: value mismatch ({sum((s_ms - d_ms).values())} rows differ)")
        print(f"      cols: {scols}")
        for k, n in only_s:
            print(f"      spark-only  x{n}: {k}")
        for k, n in only_d:
            print(f"      duckdb-only x{n}: {k}")
        return failures + 1
    print(f"OK    {name}: {len(srows)} rows match")
    return failures


def main() -> int:
    sf_dir = (sys.argv[1] if len(sys.argv) > 1
              else os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"))
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pdf_parser_spark.session import get_spark

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL  {name}: not a queries() name")
    if unknown:
        return 1

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    failures = 0
    walls = {}
    splits: dict[str, dict[str, float]] = {}
    t_sweep = time.perf_counter()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t_face = time.perf_counter()
        splits[name] = {"spark": 0.0, "duckdb": 0.0}
        failures += check_face(spark, con, cache_manager, oracles, name, fn, sf_dir,
                               splits[name])
        walls[name] = time.perf_counter() - t_face
    sweep_s = time.perf_counter() - t_sweep

    spark.stop()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    slowest = sorted(walls.items(), key=lambda kv: -kv[1])[:5]
    print(f"sweep wall {sweep_s:.1f} s over {len(walls)} faces; slowest: "
          + ", ".join(f"{n} {w:.1f} s (spark {splits[n]['spark']:.1f} s, "
                      f"duckdb {splits[n]['duckdb']:.1f} s)" for n, w in slowest))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
