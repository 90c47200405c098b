"""Output checks, computed independently of graft.

mj_text: every Maple, Juice and get result against the generator's own
word and link tallies. Query workloads: every query's output (written once,
untimed, by the harness) against DuckDB running `SparkEntry.oracleSql` over
the same input files, with the views and canonical form of tools/check.py.
q25_approx_distinct has no exact oracle; its HyperLogLog estimates are held
to tools/check.py's error bound instead.

Each function returns {op name: reason} for the operations that failed.
"""
import contextlib
import json
import os
import sys

EXPECT = {  # op name -> (tally, field of the op record, field of the tally)
    "maple_wc": ("wc", "result", "inter_pairs"),
    "juice_wc": ("wc", "result", "out_lines"),
    "get_wc": ("wc", "digest", "digest"),
    "maple_rwlg": ("rwlg", "result", "inter_pairs"),
    "juice_rwlg": ("rwlg", "result", "out_lines"),
    "get_rwlg": ("rwlg", "digest", "digest"),
}


def check_mj_text(ops, expect):
    bad = {}
    for o in ops:
        if o["name"] not in EXPECT:
            continue
        tally, got_key, exp_key = EXPECT[o["name"]]
        got, exp = o[got_key], expect[tally][exp_key]
        if o["error"] is None and got != exp:
            bad[o["name"]] = f"pass {o['pass']}: {got_key} {got} != {exp}"
    return bad


def check_queries(root, input_dir, out_dir, names):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check as oracle  # tools/check.py
    import duckdb

    con = duckdb.connect()
    oracle.make_views(con, input_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    bad = {}
    for q in names:
        d = os.path.join(out_dir, q)
        if not os.path.isdir(d):
            bad[q] = "no output written"
            continue
        if q == "q25_approx_distinct":
            # bound_sketches prints its verdict; keep stdout for the result
            with contextlib.redirect_stdout(sys.stderr):
                if oracle.bound_sketches(con, out_dir):
                    bad[q] = "estimate outside the HLL error bound"
            continue
        if q not in sqls:
            bad[q] = "no oracle"
            continue
        got_rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        got = oracle.canon(got_rel.fetchall(), got_rel.columns)
        exp_rel = con.sql(sqls[q])
        exp = oracle.canon(exp_rel.fetchall(), exp_rel.columns)
        if sorted(got_rel.columns) != sorted(exp_rel.columns):
            bad[q] = f"columns {sorted(got_rel.columns)} != {sorted(exp_rel.columns)}"
        elif got != exp:
            g, e = set(got), set(exp)
            bad[q] = (f"rows differ: got {len(got)}, expected {len(exp)}; first got-only "
                      f"{next((r for r in got if r not in e), None)}, first expected-only "
                      f"{next((r for r in exp if r not in g), None)}")
    return bad
