"""Checks a run's verification output against the DuckDB oracle: the
oracle SQL runs over the same generated tables, and the two results are
compared as multisets, bit-strict on floats (-0.0 differs from 0.0).
"""
import os

import numpy as np


def norm(df):
    """Column-sorted, row-sorted copy; float ties break on raw bits so
    equal multisets always sort into one canonical order.
    """
    df = df[sorted(df.columns)].copy()
    bitcols = []
    for c in list(df.columns):
        view = {np.dtype("float64"): "int64",
                np.dtype("float32"): "int32"}.get(df[c].dtype)
        if view is not None:
            df["__bits_" + c] = np.ascontiguousarray(df[c].to_numpy()).view(view)
            bitcols.append("__bits_" + c)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.drop(columns=bitcols)


def frames_equal(a, b):
    """Bit-strict equality of two normalized frames."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        view = {np.dtype("float64"): "int64", np.dtype("float32"): "int32"}
        if x.dtype in view and y.dtype == x.dtype:
            if not (x.to_numpy().view(view[x.dtype])
                    == y.to_numpy().view(view[x.dtype])).all():
                return False
        elif not x.equals(y):
            return False
    return True


def check(tables_dir, output_dir, sql, temp_dir):
    """(ok, message): does the Spark output under `output_dir` equal the
    oracle SQL's result over the tables in `tables_dir`?
    """
    import duckdb
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{temp_dir}'")
        con.execute("SET preserve_insertion_order=false")
        con.execute("SET threads=2")
        for t in ("nation", "customer", "orders"):
            p = os.path.join(tables_dir, f"{t}.parquet", "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        spark = con.sql(
            f"SELECT * FROM '{os.path.join(output_dir, '*.parquet')}'").df()
        duck = con.sql(sql).df()
    finally:
        con.close()
    a, b = norm(spark), norm(duck)
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    if not frames_equal(a, b):
        return False, "values differ"
    return True, f"{len(a)} rows equal"
