#!/usr/bin/env python3
"""Local correctness check mimicking the driver's DuckDB-oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet result (written by graft.Verify),
runs the matching oracle_sql.json statement in DuckDB against the sfDir
parquet tables, sorts columns by name, and compares values.

DuckDB runs under a memory limit of half the memory this process may use
(the cgroup's memory.max when set, else physical memory) and on half the
cores, spilling into a temporary directory removed at exit: a statement
that runs out of memory prints its own FAIL line and the statements after
it still run. DuckDB's memory use outside its buffer pool grows past the
limit, so the limit leaves the other half as headroom; per-thread operator
state counts against the limit, so fewer threads let the largest joins
(a16_triangle_count on a 15 GB host) finish inside it.
"""
import json
import os
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            # dates / decimals → string
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True)

def allowed_memory_bytes() -> int:
    """The cgroup v2 memory limit when one is set, else physical memory."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
    except OSError:
        return phys
    return min(int(limit), phys) if limit.isdigit() else phys

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    with tempfile.TemporaryDirectory(prefix="check-duckdb-") as spill:
        n_fail = check(sf_dir, Path(out_dir), spill)
    sys.exit(1 if n_fail else 0)

def check(sf_dir: str, out: Path, spill: str) -> int:
    """Compare every statement; print one PASS/FAIL line each and return
    the number of failures."""
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{allowed_memory_bytes() // 2 // 2**20}MB'")
    con.execute(f"SET threads={max(1, len(os.sched_getaffinity(0)) // 2)}")
    con.execute(f"SET temp_directory='{spill}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        res_dir = out / name
        if not res_dir.exists():
            print(f"FAIL {name}: no spark result written")
            n_fail += 1
            continue
        try:
            got = pd.read_parquet(res_dir)
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs oracle {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs oracle {len(w)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch: {str(e).splitlines()[-1][:300]}")
            # show first differing row for debugging
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print(f"  first diff row {i}:\n   spark: {g.loc[i].to_dict()}\n   duck : {w.loc[i].to_dict()}")
            n_fail += 1
    con.close()
    print(f"\n{n_pass} pass, {n_fail} fail")
    return n_fail

if __name__ == "__main__":
    main()
