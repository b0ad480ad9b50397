"""Oracle check: run queries() entries on Spark and their oracle_sql()
on DuckDB, and compare row count, column names, and order-insensitive
values.

    python tools/check_oracles.py [--sf DIR]... [QUERY]...

Defaults: the sf0.01 tables next to ``DEFAULT_SF`` and every query.
Exit 0 iff every checked query matches at every SF."""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entrymod  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (df.round(6).astype(str)
            .sort_values(by=list(df.columns)).reset_index(drop=True))


def check(spark, sf_dir: str, qs: dict, oracles: dict) -> int:
    """Check each query in ``qs`` at ``sf_dir``; returns the failure count."""
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"FAIL {name}: spark error {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as exc:
            failures.append((name, f"ORACLE ERROR: {exc}"))
            print(f"FAIL {name}: oracle error {exc}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"columns {list(got.columns)} vs {list(exp.columns)}"))
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            continue
        g, e = canon(got), canon(exp)
        if not g.equals(e):
            diff = (g != e).any(axis=1)
            failures.append((name, "values"))
            print(f"FAIL {name}: value mismatch, first diffs:")
            print(pd.concat([g[diff].head(3), e[diff].head(3)], keys=["got", "exp"]))
            continue
        print(f"ok   {name}: {len(got)} rows match")
    con.close()
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass @ {sf_dir}")
    return len(failures)


def main(argv: list[str] | None = None) -> int:
    from jesse_spark.session import get_spark

    all_qs = entrymod.queries()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", action="append", metavar="DIR",
                    help="scale-factor table directory (repeatable)")
    ap.add_argument("query", nargs="*", help="queries() names (default: all)")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.query) - set(all_qs))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    sfs = args.sf or [str(Path(entrymod.DEFAULT_SF).with_name("sf0.01"))]
    qs = {n: all_qs[n] for n in args.query} if args.query else all_qs

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        failed = sum(check(spark, sf, qs, entrymod.oracle_sql()) for sf in sfs)
    finally:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
