"""Mimic the driver's correctness check locally: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin in
DuckDB at the given sf dir, compare row-count + schema-width +
order-insensitive value-hash (columns sorted by name, floats rounded).

Usage: python scripts/validate_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from open_source_search_engine_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(5)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    df = norm_df(df)
    payload = df.to_csv(index=False, float_format="%.5f").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("validate_contract", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    # only_query names are the PACKED contract names; a name that
    # matches none of them would otherwise check nothing and pass
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL  {name:24s} unknown query name")
    n_fail = len(unknown)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} spark error: {e}")
            n_fail += 1
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok?   {name:24s} rows={len(sdf):6d} (no oracle — rows-only) {t1-t0:5.1f}s")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} duckdb error: {e}")
            n_fail += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "PASS " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        if status.startswith("FAIL"):
            n_fail += 1
        print(
            f"{status} {name:24s} rows={len(sdf):6d}/{len(odf):6d} "
            f"cols_ok={ok_cols} hash_ok={ok_hash} {t1-t0:5.1f}s"
        )
        if not ok_hash and ok_rows and ok_cols and len(sdf) > 0:
            a, b = norm_df(sdf), norm_df(odf)
            diff = a.compare(b) if a.shape == b.shape else None
            if diff is not None and len(diff):
                print(diff.head(5))
            else:
                print("  spark head:", a.head(3).to_dict("records"))
                print("  duck  head:", b.head(3).to_dict("records"))
    print(f"\n{'ALL PASS' if n_fail == 0 else f'{n_fail} FAILURES'}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
