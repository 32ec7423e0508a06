"""Driver-style correctness harness: Spark queries vs DuckDB oracles.

Mimics the driver's CORRECTNESS gate: for every query in
cdf_spark.queries, run the Spark implementation and the DuckDB oracle
SQL over the same parquet tables, then compare row count, column
names, and order-insensitive values (columns sorted by name, rows
sorted, NaN-safe equality).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        # naive/us-vs-ns timestamp normalization
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark, con, name: str, fn, oracle: str | None, sf_dir: str) -> dict:
    sdf = fn(spark, sf_dir)
    spark_pd = sdf.toPandas()
    out = {"query": name, "spark_rows": len(spark_pd)}
    if oracle is None:
        out["status"] = "rows-only"
        out["ok"] = len(spark_pd) >= 0
        return out
    duck_pd = con.execute(oracle).df()
    out["oracle_rows"] = len(duck_pd)
    if len(spark_pd) != len(duck_pd):
        out["status"] = "ROWCOUNT-MISMATCH"
        out["ok"] = False
        return out
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        out["status"] = f"SCHEMA-MISMATCH {sorted(spark_pd.columns)} vs {sorted(duck_pd.columns)}"
        out["ok"] = False
        return out
    a, b = _canon(spark_pd), _canon(duck_pd)
    # Driver parity: its value hash is typed, so an integer Spark column
    # vs a float oracle column (the DuckDB SUM(BIGINT)->HUGEINT->float64
    # artifact, see r10 BPE / r12 DSIR) is RED even when values match.
    kind_mismatch = [
        (c, str(a[c].dtype), str(b[c].dtype))
        for c in a.columns
        if {a[c].dtype.kind, b[c].dtype.kind} == {"i", "f"}
    ]
    if kind_mismatch:
        out["status"] = f"DTYPE-KIND-MISMATCH {kind_mismatch}"
        out["ok"] = False
        return out
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        out["status"] = "MATCH"
        out["ok"] = True
    except AssertionError as e:
        out["status"] = "VALUE-MISMATCH"
        out["detail"] = str(e).split("\n")[0:6]
        # find first differing cell for debugging
        for c in a.columns:
            neq = ~(a[c].eq(b[c]) | (a[c].isna() & b[c].isna()))
            if neq.any():
                i = neq.idxmax()
                out["first_diff"] = {"col": c, "row": int(i), "spark": repr(a[c][i]), "oracle": repr(b[c][i])}
                break
        out["ok"] = False
    return out


def selected(queries: dict, only: list[str]) -> list[str]:
    """The registry names to check, in registry order: every query, or
    the ones named. A name that matches no query raises, naming it."""
    unknown = sorted(set(only) - queries.keys())
    if unknown:
        raise ValueError(f"unknown queries: {', '.join(unknown)}")
    return [name for name in queries if not only or name in only]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from cdf_spark.queries import ORACLES, QUERIES
    from cdf_spark.session import get_spark

    names = selected(QUERIES, sys.argv[2:])
    spark = get_spark("oracle-compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name in names:
        try:
            r = compare(spark, con, name, QUERIES[name], ORACLES.get(name), sf_dir)
        except Exception as e:
            r = {"query": name, "status": f"ERROR {type(e).__name__}: {str(e)[:200]}", "ok": False}
        flag = "✓" if r["ok"] else "✗"
        print(f"{flag} {name}: {r['status']} (spark={r.get('spark_rows')}, oracle={r.get('oracle_rows', '-')})")
        if not r["ok"]:
            failures += 1
            if "first_diff" in r:
                print("   first diff:", r["first_diff"])
            if "detail" in r:
                print("   ", r["detail"])
    print(f"\n{len(names) - failures}/{len(names)} ok")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
