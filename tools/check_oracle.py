#!/usr/bin/env python3
"""Local oracle-parity check: mimics the driver's DuckDB compare.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

For each <name>/ parquet dir in verify_out_dir, runs the matching SQL from
oracle_sql.json in DuckDB (tables registered as views over sf_dir parquet),
sorts columns by name and rows by all columns, and compares values.
"""
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def is_null(v) -> bool:
    return v is None or (isinstance(v, (float, np.floating)) and pd.isna(v))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare. A NULL in an object column reads as NaN
    # from DuckDB's .df() and as None from pyarrow; give both one token
    # before the string cast, or they become 'nan' and 'None'.
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: "NULL" if is_null(v) else v).astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def strict_repr(df: pd.DataFrame) -> list:
    """Value-level canonical strings, dtype-sensitive like the driver's hash:
    an int64 3233 and a float64 3233.0 must NOT compare equal (DuckDB HUGEINT
    sums come back as float64/object — cast them to BIGINT in oracle SQL)."""
    out = []
    for row in df.itertuples(index=False):
        cells = []
        for v in row:
            if is_null(v):
                cells.append("NULL")
            elif isinstance(v, (float, np.floating)):
                cells.append(repr(float(v)))
            elif isinstance(v, (bool, np.bool_)):
                cells.append(str(bool(v)))
            elif isinstance(v, (int, np.integer)):
                cells.append(str(int(v)))
            else:
                cells.append(str(v))
        out.append("|".join(cells))
    return out


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list:
    """Compares canonicalized Spark output `got` with DuckDB's `want`.
    Returns the failure's lines, the first one the reason; empty on a match."""
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        lines = [str(e).splitlines()[-1][:300]]
        # show the first diff
        neq = (got != want) & ~(got.isna() & want.isna())
        bad = neq.any(axis=1)
        if bad.any():
            i = bad.idxmax()
            lines += [f"first diff row {i}:",
                      f"spark : {got.loc[i].to_dict()}",
                      f"duckdb: {want.loc[i].to_dict()}"]
        return lines
    sg, sw = strict_repr(got), strict_repr(want)
    if sg != sw:
        bad = next(i for i, (a, b) in enumerate(zip(sg, sw)) if a != b)
        return ["strict-hash mismatch (dtype drift?)",
                f"spark : {sg[bad][:220]}", f"duckdb: {sw[bad][:220]}"]
    return []


def main(out_dir: str, sf_dir: str, only: str | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = n_skip = 0
    out_dirs = sorted(p.name for p in Path(out_dir).iterdir() if p.is_dir())
    # reconcile BOTH directions: an oracle entry with no output dir means
    # the query failed (or was dropped) in Verify — that must FAIL loudly,
    # not silently fall out of the gate. For a FILTERED local iteration
    # (Verify's optional 3rd arg), pass the same filter here as a 3rd arg:
    # only those queries are required to have output.
    required = set(oracle) if only is None else (
        {q.strip() for q in only.split(",")} & set(oracle))
    for missing in sorted(required - set(out_dirs)):
        print(f"FAIL  {missing}: oracle sql present but no Verify output")
        n_fail += 1
    for name in out_dirs:
        if name not in oracle:
            print(f"SKIP  {name} (no oracle sql — rows-only)")
            n_skip += 1
            continue
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
            want = canon(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_fail += 1
            continue
        failure = compare(got, want)
        if failure:
            print(f"FAIL  {name}: {failure[0]}")
            for line in failure[1:]:
                print(f"      {line}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(got)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
