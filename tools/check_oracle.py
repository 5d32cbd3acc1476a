#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables, load the Spark result parquet written by
graft.Verify, sort columns by name + rows by value, and compare exactly.

Some oracle SQL reads artifacts that the queries stage under STAGE_DIR
(TarQueries.StageDir). A later run (another Verify, the spec suite) may
re-stage those with other contents, after which the oracle no longer
describes the Spark output it is checked against. Such a query is reported
STALE with the re-staged path instead of being compared; rerun Verify for it.
A path counts as re-staged when it changed after the newest Verify output of
the queries whose oracle SQL names it.
The exit code is non-zero on any FAIL or STALE.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import glob
import json
import os
import re
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


STAGE_DIR = "/tmp/graft_stage"
STAGED_REF = re.compile(re.escape(STAGE_DIR) + r"/[^'\"\s),;]+")


def newest_mtime(path: str) -> float:
    """Latest modification time of `path` or anything under it."""
    t = os.path.getmtime(path)
    for root, dirs, files in os.walk(path):
        for n in dirs + files:
            t = max(t, os.path.getmtime(os.path.join(root, n)))
    return t


def staged_paths(sql: str) -> list:
    """The staged files and dirs `sql` names, cut before any glob part."""
    paths = set()
    for ref in STAGED_REF.findall(sql):
        parts = ref.split("/")
        keep = next((i for i, p in enumerate(parts) if any(c in p for c in "*?[{")),
                    len(parts))
        paths.add("/".join(parts[:keep]))
    return sorted(paths)


def staged_by(oracle: dict, out_dir: str) -> dict:
    """Each staged path named by some oracle SQL -> the newest Verify output
    of the queries that name it. A query that stages a path is one whose
    oracle reads it, so within one Verify run every write to the path comes
    before that time (t25 re-stages t24's weights, for one); a later write
    came from another run."""
    seen = {}
    for name, sql in oracle.items():
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if files:
            written = max(os.path.getmtime(f) for f in files)
            for p in staged_paths(sql):
                seen[p] = max(seen.get(p, 0.0), written)
    return seen


def canon(df: pd.DataFrame) -> list:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    rows = sorted([tuple(str(v) for v in r) for r in df.itertuples(index=False)])
    return rows


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    verified = staged_by(oracle, out_dir)
    n_pass = n_fail = n_stale = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        newer = [p for p in staged_paths(oracle[name])
                 if os.path.exists(p) and newest_mtime(p) > verified[p]]
        if newer:
            print(f"STALE {name}: {', '.join(newer)} modified after its Verify output")
            n_stale += 1
            continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in files])
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        if sorted(got.columns.str.lower()) != sorted(want.columns.str.lower()):
            print(f"FAIL {name}: columns spark={sorted(got.columns)} duckdb={sorted(want.columns)}")
            n_fail += 1
        elif g != w:
            n_fail += 1
            print(f"FAIL {name}: {len(g)} vs {len(w)} rows; first diffs:")
            for a, b in list(zip(g, w))[:200]:
                if a != b:
                    print(f"  spark={a}\n  duck ={b}")
                    break
            only_g = [r for r in g if r not in set(w)][:3]
            only_w = [r for r in w if r not in set(g)][:3]
            if only_g:
                print(f"  only-spark: {only_g}")
            if only_w:
                print(f"  only-duck : {only_w}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(g)} rows)")
    # queries with no oracle: rows-only
    for d in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, d)
        if os.path.isdir(p) and d not in oracle:
            files = glob.glob(f"{p}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
            print(f"ROWS-ONLY {d}: {n} rows")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_stale} stale")
    sys.exit(1 if n_fail or n_stale else 0)


if __name__ == "__main__":
    main()
