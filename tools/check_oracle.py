#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.oracleSql vs Verify output.

Replicates the driver's correctness gate: run `graft.Verify` first
(sbt "runMain graft.Verify <sfDir> <outDir>"), then this script loads each
query's parquet dump, runs its oracle SQL in DuckDB over the same testdata
tables, and compares (columns sorted by name, rows sorted, exact values).

Dev tool only — the shipped Scala library has no Python dependency.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>
"""
import json
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # timestamps → ISO strings so tz/unit representation differences don't
    # fail the compare (driver compares values post-normalization)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


# DuckDB's default cap is 80% of RAM, which a host shared with other work
# does not have; past the cap, operators spill to a temporary directory.
MEMORY_LIMIT = "3GB"


def main(sf_dir: str, out_dir: str, spill: str) -> int:
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    failures = 0
    for name in sorted(oracle):
        sql = oracle[name]
        qdir = Path(out_dir) / name
        if not qdir.exists():
            print(f"FAIL {name}: no Verify output dir")
            failures += 1
            continue
        try:
            got = norm(pd.read_parquet(qdir))
            want = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failures += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            failures += 1
            continue
        dtype_diffs = [f"{c}: spark={got[c].dtype} duck={want[c].dtype}"
                       for c in got.columns
                       if str(got[c].dtype) != str(want[c].dtype)]
        if dtype_diffs:
            print(f"FAIL {name}: dtype mismatch {'; '.join(dtype_diffs)}")
            failures += 1
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            failures += 1
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                              check_exact=True)
                print(f"ok   {name}: {len(got)} rows")
            except AssertionError as e:
                print(f"FAIL {name}: value mismatch\n{str(e)[:500]}")
                failures += 1
    # queries with no oracle → rows-only check
    for d in sorted(Path(out_dir).iterdir()):
        if d.is_dir() and d.name not in oracle:
            n = len(pd.read_parquet(d))
            print(f"rows-only {d.name}: {n} rows")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="check_oracle_spill_") as spill:
        code = main(*sys.argv[1:3], spill)
    sys.exit(code)
