#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sfdir] [outdir] [--skip-spark]

1. Runs `sbt "runMain graft.Verify <sfdir> <outdir>"` (unless --skip-spark).
2. Creates DuckDB views over the same parquet tables.
3. For each query in outdir/oracle_sql.json: runs the oracle SQL, loads the
   Spark parquet result, sorts columns by name, compares values.

Reports per-query: row-count match, schema match, value match (exact after
column sort; rows compared both in file order and sorted, so we learn if
ordering ever matters).
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes a bit: timestamps to ns, ints to int64
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = Path(args[1] if len(args) > 1 else "/tmp/verify_out")
    if "--skip-spark" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
            cwd="/root/repo", capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:])
            print(r.stderr[-4000:])
            sys.exit(1)
        # Verify reports on stderr, which sbt tags [error] line by line:
        # keep its own [verify] lines only — every failure, then the
        # last progress line
        verify = [l for l in r.stdout.splitlines() if "[verify]" in l]
        failed = [l for l in verify if " failed: " in l]
        for l in failed:
            print(l)
        progress = [l for l in verify if l not in failed]
        if progress:
            print(progress[-1])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    oracle = json.loads((outdir / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        pq = outdir / name
        try:
            got = pd.read_parquet(pq)
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue
        want_n, got_n = norm(want), norm(got)
        problems = []
        if list(want_n.columns) != list(got_n.columns):
            problems.append(f"columns want={list(want_n.columns)} got={list(got_n.columns)}")
        elif len(want_n) != len(got_n):
            problems.append(f"rows want={len(want_n)} got={len(got_n)}")
        else:
            if not want_n.reset_index(drop=True).equals(got_n.reset_index(drop=True)):
                sw = want_n.sort_values(list(want_n.columns)).reset_index(drop=True)
                sg = got_n.sort_values(list(got_n.columns)).reset_index(drop=True)
                if sw.equals(sg):
                    problems.append("values match only after row sort (ORDER BY mismatch)")
                else:
                    diff = (sw != sg) & ~(sw.isna() & sg.isna())
                    bad = diff.any(axis=1)
                    problems.append(f"value mismatch in {int(bad.sum())}/{len(sw)} rows")
                    if bad.any():
                        i = bad.idxmax()
                        problems.append(f"  first diff row {i}:\n  want {sw.loc[i].to_dict()}\n  got  {sg.loc[i].to_dict()}")
            # dtype check
            for c in want_n.columns:
                if c in got_n.columns and str(want_n[c].dtype) != str(got_n[c].dtype):
                    problems.append(f"dtype {c}: want {want_n[c].dtype} got {got_n[c].dtype}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(want_n)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed, {len(oracle)} total")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
