"""Dev harness approximating the driver's correctness check: run each
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row count, column names, and order-insensitive values. Not a pytest module
(invoked directly, `python tests/harness_oracle.py [name ...]`); pytest
runs the same comparison for a subset: the dedup-chain queries at sf0.01
(tests/test_dedup_stages.py) and the inline-SQL oracles at sf0.001
(tests/test_round3_queries.py)."""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck_connection(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype):
            pdf[c] = pdf[c].round(9)
        elif "decimal" in str(pdf[c].dtype).lower():
            pdf[c] = pdf[c].astype(float).round(6)
    try:
        pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    except Exception:
        pdf = pdf.reset_index(drop=True)
    return pdf


def compare_query(spark, con, name, fn, sql, sf_dir: str = SF_DIR):
    got = fn(spark, sf_dir).toPandas()
    want = con.execute(sql).df()
    g, w = normalize_frame(got), normalize_frame(want)
    problems = []
    if list(g.columns) != list(w.columns):
        problems.append(f"columns: spark={list(g.columns)} duck={list(w.columns)}")
    if len(g) != len(w):
        problems.append(f"rows: spark={len(g)} duck={len(w)}")
    if not problems:
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=False, rtol=0, atol=1e-9)
        except AssertionError as exc:
            problems.append(str(exc).split("\n")[0] + " …")
            mism = (g != w) & ~(g.isna() & w.isna())
            idx = mism.any(axis=1)
            if idx.any():
                problems.append("spark:\n" + g[idx].head(3).to_string())
                problems.append("duck:\n" + w[idx].head(3).to_string())
    return problems


def main():
    sys.path.insert(0, "/root/repo")
    from dedup.queries import QUERIES, ORACLE_SQL
    from dedup.session import build_session

    only = sys.argv[1:] or None
    spark = build_session("oracle-harness", master="local[8]",
                          shuffle_partitions=8)
    con = duck_connection()
    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        sql = ORACLE_SQL.get(name)
        if sql is None:
            n = fn(spark, SF_DIR).count()
            print(f"{name:28s} rows-only: {n} rows")
            continue
        import time as _time
        t0 = _time.time()
        try:
            problems = compare_query(spark, con, name, fn, sql)
        except Exception as exc:
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        dt = _time.time() - t0
        if problems:
            failures += 1
            print(f"{name:28s} MISMATCH  [{dt:.1f}s]")
            for p in problems:
                print("   ", p[:2000])
        else:
            print(f"{name:28s} OK  [{dt:.1f}s]")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
