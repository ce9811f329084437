#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run after
`sbt "runMain graft.Verify <sfDir> <outDir>"`, compares each query's
parquet dump against its DuckDB oracle SQL (sorted columns, sorted rows,
value hash). Usage: check_oracle.py <sfDir> <outDir>

Fails loudly (exit 1) on any of:
  [FAIL-verify]   a query Verify lists in failed.json (it threw); its dump
                  dir, if any, is stale and is not compared
  [FAIL-missing]  an oracle_sql.json key with no dump dir
  [ERR-oracle]    an oracle SQL that DuckDB cannot run
  [FAIL-schema|rows|values]  a dump that differs from its oracle"""
import sys, os, json, glob
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
failed_path = f"{out_dir}/failed.json"
failed = json.load(open(failed_path)) if os.path.exists(failed_path) else {}
fails = 0
for name, err in sorted(failed.items()):
    print(f"[FAIL-verify] {name}: {err['class']}: {err['message'][:120]}")
    fails += 1
dumps = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
for name in sorted(set(oracle) - dumps - set(failed)):
    print(f"[FAIL-missing] {name}: no dump dir")
    fails += 1
for name in sorted(dumps - set(failed)):
    d = os.path.join(out_dir, name)
    files = glob.glob(f"{d}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if name not in oracle:
        print(f"[rows-only] {name}: rows={len(got)}")
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as ex:  # e.g. k_config_history's sf0.01-scoped side dump
        print(f"[ERR-oracle] {name}: {str(ex).splitlines()[0][:120]}")
        fails += 1
        continue
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.astype(str)
        return df.sort_values(list(df.columns)).reset_index(drop=True)
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        print(f"[FAIL-schema] {name}: spark={list(g.columns)} duck={list(e.columns)}")
        fails += 1
    elif len(g) != len(e):
        print(f"[FAIL-rows] {name}: spark={len(g)} duck={len(e)}")
        fails += 1
    elif not g.equals(e):
        diff = (g != e).any(axis=1)
        print(f"[FAIL-values] {name}: {diff.sum()} differing rows of {len(g)}")
        merged = pd.concat([g[diff].head(3).add_prefix("spark_"),
                            e[diff].head(3).add_prefix("duck_")], axis=1)
        print(merged.to_string())
        fails += 1
    else:
        print(f"[OK] {name}: {len(g)} rows")
print(f"{fails} failures")
sys.exit(1 if fails else 0)
