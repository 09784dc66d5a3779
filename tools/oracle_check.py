#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each parquet dump in
<outDir> (written by `sbt "runMain graft.Verify <sfDir> <outDir>"`), run the
matching DuckDB oracle from oracle_sql.json against the testdata tables and
compare values. Development tool only — the engine itself is pure Scala.

Usage: python3 tools/oracle_check.py <sfDir> <outDir> [query ...]
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB's defaults (80% of the host's RAM, one thread per core) let the
# large self-join oracles run out of memory on a shared host. A fixed
# memory cap, fewer threads (each holds its own buffers) and an explicit
# spill directory make them spill to disk instead. Under this cap the
# e2_kcore and e3_knn_graph_incr* oracles only fit because their SQL marks
# its chained CTEs AS MATERIALIZED; inlined, each ran out of memory.
DUCKDB_CONFIG = {
    "memory_limit": "6GB",
    "threads": 2,
    "temp_directory": "/tmp/oracle_check_duckdb",
}

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect(config=DUCKDB_CONFIG)
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_fail += 1
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            n_fail += 1
            continue
        # dtype report (informational) + value compare
        dt = [(c, str(got[c].dtype), str(want[c].dtype))
              for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
        mismatch = None
        for c in got.columns:
            a, b = got[c], want[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                mismatch = (c, i, a.iloc[i], b.iloc[i], int((~eq).sum()))
                break
        if mismatch:
            c, i, av, bv, n = mismatch
            print(f"FAIL {name}: col {c} row {i}: spark={av!r} oracle={bv!r} ({n} diffs)")
            n_fail += 1
        else:
            note = f"  [dtype diffs: {dt}]" if dt else ""
            print(f"PASS {name} ({len(got)} rows){note}")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
