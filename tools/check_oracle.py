"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB at
sf0.01, compare row count + sorted-column value hash. Run before committing
new queries: every line must print OK (or ROWS-ONLY for oracle-less ops).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

# the checkout this file lives in, so a second checkout checks itself
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.conftest import make_spark  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[dict]) -> str:
    cols = sorted(rows[0].keys()) if rows else []
    lines = sorted(
        "|".join(_normalize(r[c]) for c in cols) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = sys.argv[1:] or list(qs)
    failures = 0
    for name in only:
        fn = qs[name]
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ROWS-ONLY  {name}: {len(srows)} rows  ({dt:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        scols, dcols = (
            sorted(srows[0].keys()) if srows else [],
            sorted(ddf[0].keys()) if ddf else [],
        )
        if len(srows) != len(ddf):
            print(f"FAIL  {name}: rows spark={len(srows)} duckdb={len(ddf)}")
            failures += 1
            continue
        if scols != dcols:
            print(f"FAIL  {name}: cols spark={scols} duckdb={dcols}")
            failures += 1
            continue
        hs, hd = value_hash(srows), value_hash(ddf)
        if hs != hd:
            print(f"FAIL  {name}: hash spark={hs} duckdb={hd}")
            for s, d in list(zip(
                sorted("|".join(_normalize(r[c]) for c in scols) for r in srows),
                sorted("|".join(_normalize(r[c]) for c in dcols) for r in ddf),
            ))[:200]:
                if s != d:
                    print(f"   spark : {s[:160]}")
                    print(f"   duckdb: {d[:160]}")
                    break
            failures += 1
            continue
        print(f"OK    {name}: {len(srows)} rows hash={hs}  ({dt:.1f}s)")
    print(f"\n{len(only) - failures}/{len(only)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
