"""DuckDB oracle for result dumps.

`check(con, sql, result_dir, exact)` runs `sql` over the input tables
registered on `con` and compares it with the parquet the engine wrote
to `result_dir`: columns sorted by name, rows sorted, timestamps as UTC
strings. `exact` demands identical dtypes and values (the query packs'
oracles are written to be bit-exact); otherwise floats may differ by a
relative 1e-9, as two summation orders of one average do.
"""
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _norm(df, digits):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif digits is not None and pd.api.types.is_float_dtype(s):
            s = s.round(digits)
        df[c] = s
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def check(con, sql, result_dir, exact):
    """Returns None when the dump matches the oracle, else the reason."""
    try:
        got = pd.read_parquet(result_dir)
        want = con.execute(sql).df()
    except Exception as e:  # a failing oracle or dump is a failed check
        return f"{type(e).__name__}: {e}"[:400]
    digits = None if exact else 6
    got, want = _norm(got, digits), _norm(want, digits)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if exact:
        diffs = [c for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
        if diffs:
            return "dtypes differ: " + ", ".join(
                f"{c} {got[c].dtype}/{want[c].dtype}" for c in diffs)
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        if exact:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        else:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=False, rtol=1e-9, atol=1e-6)
    except AssertionError as e:
        return f"values differ: {str(e)[:300]}"
    return None
