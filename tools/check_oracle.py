"""Local reproduction of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, schema width, and order-insensitive values."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    return out.sort_values(cols, ignore_index=True)


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None) -> int:
    from raster_join_spark.session import get_spark
    import __spark_entry__ as e

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark(app_name="check-oracle", master=f"local[{cpus}]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"[FAIL] {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in osql:
            print(f"[rows-only] {name}: {len(got)} rows")
            continue
        try:
            exp = con.sql(osql[name]).df()
        except Exception as ex:
            print(f"[FAIL] {name}: duckdb error: {ex}")
            failures += 1
            continue
        g, x = norm(got), norm(exp)
        if list(g.columns) != list(x.columns):
            print(f"[FAIL] {name}: columns {list(g.columns)} vs {list(x.columns)}")
            failures += 1
            continue
        if len(g) != len(x):
            print(f"[FAIL] {name}: rows {len(g)} vs {len(x)}")
            failures += 1
            continue
        ok = True
        for c in g.columns:
            a, b = g[c].to_numpy(), x[c].to_numpy()
            # strict dtype parity: the driver's value-hash distinguishes
            # int64 from float64, so a cross-dtype match is still a FAIL
            if (a.dtype.kind in "iu") != (b.dtype.kind in "iu"):
                print(
                    f"[FAIL] {name}: column {c} dtype mismatch "
                    f"spark={a.dtype} duck={b.dtype}"
                )
                ok = False
                failures += 1
                break
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                same = np.allclose(
                    a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True
                )
            else:
                same = (a == b).all()
            if not same:
                bad = np.nonzero(~(pd.Series(a).eq(pd.Series(b)) | (pd.isna(a) & pd.isna(b))))[0][:5]
                print(f"[FAIL] {name}: column {c} mismatch at rows {bad.tolist()}")
                for i in bad[:3]:
                    print(f"    spark={a[i]!r} duck={b[i]!r}")
                ok = False
                failures += 1
                break
        if ok:
            print(f"[OK]   {name}: {len(g)} rows, {len(g.columns)} cols (exact match)")
    return failures


if __name__ == "__main__":
    only = sys.argv[1:] or None
    raise SystemExit(main(only=only))
