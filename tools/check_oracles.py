"""Run catalog entries on Spark AND their DuckDB oracle SQL (sf0.01 by
default), and compare row count + column names + order-insensitive
value hash.

The catalog checked is ``pipeline_queries.catalog()``: the 10 monoid
entries ``__spark_entry__`` serves, then the pipeline tier's entries.
With no names given every entry runs.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_monoid_spark.session import get_spark


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        # normalize dtypes: everything to string with float rounding
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted(",".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from datafusion_monoid_spark.pipeline_queries import TABLES, catalog

    spark = get_spark("check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    failed = []
    for name, (fn, oracle) in catalog().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if oracle is None:
            print(f"weak  {name}: rows={len(sdf)} (no oracle, rows-only check)")
            continue
        try:
            ddf = con.sql(oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        (sn, sc, sh), (dn, dc, dh) = canon(sdf), canon(ddf)
        ok = (sn, sc, sh) == (dn, dc, dh)
        print(f"{'ok  ' if ok else 'FAIL'}  {name}: spark rows={sn} duck rows={dn} "
              f"cols {'match' if sc == dc else f'{sc} vs {dc}'} "
              f"hash {'match' if sh == dh else f'{sh} vs {dh}'}")
        if not ok:
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all oracle checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
