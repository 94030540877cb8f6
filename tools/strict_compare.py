#!/usr/bin/env python3
"""Strict driver-mimic for the t2 gate: pandas reads the Spark parquet,
DuckDB fetchdf() materializes the oracle, columns sort by name, rows sort
by all columns, and cells must match INCLUDING python type (so a
Decimal-vs-float64 divergence fails here exactly like the driver's hash).

Usage: python3 tools/strict_compare.py <sfDir> <verifyOutDir>
Exits 1 when any query fails, 0 otherwise.
Dev-only tool — not part of the library.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cell_key(v):
    # type-sensitive: Decimal('1.5') != 1.5, np.int32(1) == np.int64(1) is
    # fine (both integral), but float vs Decimal must differ.
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    try:
        if pd.isna(v):
            return ("null",)
    except (TypeError, ValueError):
        pass
    return (type(v).__module__ + "." + type(v).__name__, str(v))


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name in sorted(oracles):
        qdir = Path(out_dir) / name
        if not qdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(qdir))
            want = canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:  # noqa: BLE001 — mimic driver's err capture
            print(f"FAIL {name}: comparer error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(got)):
            for c in got.columns:
                a, b = cell_key(got.at[i, c]), cell_key(want.at[i, c])
                if a != b:
                    bad = (i, c, a, b)
                    break
            if bad:
                break
        if bad:
            i, c, a, b = bad
            print(f"FAIL {name}: row {i} col {c}: spark={a} oracle={b}")
            n_fail += 1
        else:
            n_pass += 1
    dirs = {p.name for p in Path(out_dir).iterdir() if p.is_dir()}
    print(f"{n_pass} pass, {n_fail} fail, "
          f"{len(dirs - set(oracles))} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
