"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count + column names + values
(columns sorted by name, rows sorted by all columns, doubles rounded to 9dp
before compare). Exit code 1 on any mismatch.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from ghcrawler_spark.session import build_session

    spark = build_session("parity", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            continue
        if len(sdf) != len(odf):
            failures.append((name, f"rowcount {len(sdf)} vs {len(odf)}"))
            print(f"FAIL {name}: rowcount spark={len(sdf)} duckdb={len(odf)}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append((name, f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"))
            print(f"FAIL {name}: cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if not a.equals(b):
            diff_mask = ~(a == b).all(axis=1)
            n_diff = int(diff_mask.sum())
            failures.append((name, f"{n_diff} differing rows"))
            print(f"FAIL {name}: {n_diff}/{len(a)} differing rows")
            ex = diff_mask[diff_mask].index[:3]
            for i in ex:
                print(f"  spark : {a.loc[i].to_dict()}")
                print(f"  duckdb: {b.loc[i].to_dict()}")
        else:
            print(f"PASS {name} ({len(sdf)} rows)")

    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
