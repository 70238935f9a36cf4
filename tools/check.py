#!/usr/bin/env python3
"""Dev harness mimicking the driver's correctness gate:
runs graft.Verify (Spark) to a temp dir, then executes each oracle SQL in
DuckDB over the same parquet tables and compares results (columns sorted
by name, rows sorted, exact value match).

Usage: python3 tools/check.py [sf_dir] [query ...]
"""
import json, subprocess, sys, os

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
OUT = "/tmp/graft_verify"

JRUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jrun.sh")


def run_verify():
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # jrun.sh runs from the repo root, so the table dir goes in absolute
    cmd = [JRUN, "-JXmx8g", "graft.Verify", os.path.abspath(SF), OUT]
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  ", line)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)


def compare():
    import duckdb, pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    try:
        skipped = json.load(open(f"{OUT}/skipped.json"))
    except FileNotFoundError:
        skipped = {}
    for name, why in sorted(skipped.items()):
        if not ONLY or name in ONLY:
            print(f"SKIP {name}: {why}")
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            got = pd.read_parquet(f"{OUT}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_fail += 1
            continue
        ok, msg = eq(exp, got)
        if ok:
            n_pass += 1
            print(f"PASS {name} ({len(got)} rows)")
        else:
            n_fail += 1
            print(f"FAIL {name}: {msg}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return n_fail


def norm(df):
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) in ("bool", "boolean"):
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def eq(exp, got):
    if sorted(exp.columns) != sorted(got.columns):
        return False, f"columns differ: oracle={sorted(exp.columns)} spark={sorted(got.columns)}"
    if len(exp) != len(got):
        return False, f"row count: oracle={len(exp)} spark={len(got)}"
    e, g = norm(exp), norm(got)
    if e.equals(g):
        return True, ""
    for c in e.columns:
        if not e[c].equals(g[c]):
            diff = (e[c] != g[c])
            idx = diff[diff].index[:3].tolist()
            samples = [(i, e[c][i], g[c][i]) for i in idx]
            return False, f"col {c} differs at {int(diff.sum())} rows, e.g. {samples}"
    return False, "rows differ after sort (ordering mismatch?)"


if __name__ == "__main__":
    run_verify()
    sys.exit(1 if compare() else 0)
