#!/usr/bin/env python3
"""Row-identity check between two graft.Verify dumps of the same corpus.

Usage: python3 tools/same_rows.py <sfDir> <parentVerifyOut> <changeVerifyOut>

For a change that must not move any row (a refactor), this reports:
  1. per query dumped in both directories (by the run that wrote each, when
     it left a verify_manifest.json), whether the two engine dumps hold
     the same rows (same canonical form as check.py: columns sorted by name,
     rows sorted, floats to 9 significant digits);
  2. per query whose oracle SQL text differs between the two oracle_sql.json
     files, whether the two oracles return the same rows over <sfDir>.
Exits 1 if any pair differs (or a differing oracle fails to run), else 0.
"""
import glob, json, os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb
from check import canon, make_views, this_run


def rows(con, sql):
    rel = con.sql(sql)
    return sorted(rel.columns), canon(rel.fetchall(), rel.columns)


def dumps(out_dir):
    found = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out_dir}/*/")}
    dumped = this_run(out_dir)
    return found if dumped is None else found & dumped


def main():
    sf_dir, parent, change = sys.argv[1], sys.argv[2], sys.argv[3]
    con = duckdb.connect()
    # bounded memory and spill: an oracle too big for them fails with
    # DuckDB's out-of-memory error, reported as FAIL, instead of filling
    # the host's memory or disk
    con.execute("SET memory_limit = '4GB'")
    con.execute("SET max_temp_directory_size = '4GB'")
    make_views(con, sf_dir)
    n_diff = 0
    pd, cd = dumps(parent), dumps(change)
    print("engine dumps:")
    for q in sorted(pd & cd):
        a = rows(con, f"SELECT * FROM '{parent}/{q}/*.parquet'")
        b = rows(con, f"SELECT * FROM '{change}/{q}/*.parquet'")
        same = a == b
        n_diff += 0 if same else 1
        print(f"  {'SAME' if same else 'DIFF'} {q}: {len(a[1])} -> {len(b[1])} rows")
    for q in sorted(pd ^ cd):
        print(f"  ONLY-IN-{'PARENT' if q in pd else 'CHANGE'} {q}")
    po = json.load(open(f"{parent}/oracle_sql.json"))
    co = json.load(open(f"{change}/oracle_sql.json"))
    changed = sorted(q for q in po.keys() & co.keys() if po[q] != co[q])
    print(f"oracle texts changed: {len(changed)}")
    for q in changed:
        side = "parent"
        try:
            a = rows(con, po[q])
            side = "change"
            b = rows(con, co[q])
        except Exception as e:
            print(f"  FAIL {q} ({side} oracle): {e}")
            n_diff += 1
            continue
        same = a == b
        n_diff += 0 if same else 1
        print(f"  {'SAME' if same else 'DIFF'} {q}: {len(a[1])} -> {len(b[1])} rows")
    for q in sorted(po.keys() ^ co.keys()):
        print(f"  ONLY-IN-{'PARENT' if q in po else 'CHANGE'} oracle {q}")
    print(f"\n{n_diff} differ")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
