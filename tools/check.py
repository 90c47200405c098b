#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Registers each test table as a DuckDB view over the sf parquet, runs every
oracle_sql.json entry, and compares against the Spark result parquet written
by graft.Verify: columns sorted by name, rows sorted by all columns, values
compared exactly (floats to 9dp to forgive representation noise only —
queries are expected to round themselves).
"""
import json, os, sys, glob, math
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v): v = "NaN"
                else: v = f"{v:.9g}"
            rr.append(str(v))
        out.append(tuple(rr))
    out.sort()
    return out

def make_views(con, sf_dir):
    """ONE table-view setup for check.py, same_rows.py and perfbench/verify.py."""
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        # driver testdata ships single parquet FILES; ScaleGen rehearsal
        # corpora are Spark-written DIRECTORIES of part files
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        if t == "events":
            # driver parquet annotates ts as TIMESTAMP_NS; Spark (which
            # reads it via nanosAsLong) re-writes rehearsal corpora as
            # plain INT64 — restore a timestamp type so the oracle SQL
            # binds identically on both corpus families. µs floor is
            # oracle-equivalent: every oracle consumes ts at µs or coarser
            # (epoch_us/date_trunc/date_diff), and each of those floors a
            # TIMESTAMP_NS exactly like make_timestamp(ts // 1000) does
            # (no oracle touches epoch_ns; this DuckDB lacks
            # make_timestamp_ns).
            (ts_type,) = [r[1] for r in
                          con.execute("DESCRIBE events").fetchall()
                          if r[0] == "ts"]
            if ts_type == "BIGINT":
                con.execute("CREATE OR REPLACE VIEW events AS SELECT * "
                            f"REPLACE (make_timestamp(ts // 1000) AS ts) FROM '{src}'")


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    make_views(con, sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_rowsonly = 0
    for name in sorted(glob.glob(f"{out_dir}/*/")):
        q = name.rstrip("/").split("/")[-1]
        got_rel = con.sql(f"SELECT * FROM '{name}/*.parquet'")
        got = canon(got_rel.fetchall(), got_rel.columns)
        if q not in oracles:
            print(f"ROWS-ONLY {q}: {len(got)} rows")
            n_rowsonly += 1
            continue
        try:
            exp_rel = con.sql(oracles[q])
            exp = canon(exp_rel.fetchall(), exp_rel.columns)
        except Exception as e:
            print(f"FAIL {q}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if sorted(got_rel.columns) != sorted(exp_rel.columns):
            print(f"FAIL {q}: schema {sorted(got_rel.columns)} != {sorted(exp_rel.columns)}")
            n_fail += 1
        elif got == exp:
            print(f"PASS {q}: {len(got)} rows")
            n_pass += 1
        else:
            print(f"FAIL {q}: rows got={len(got)} exp={len(exp)}")
            es, gs = set(exp), set(got)
            diff_g = [r for r in got if r not in es][:3]
            diff_e = [r for r in exp if r not in gs][:3]
            for r in diff_g: print(f"   got-only: {r}")
            for r in diff_e: print(f"   exp-only: {r}")
            n_fail += 1
    n_fail += bound_sketches(con, out_dir)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


def bound_sketches(con, out_dir):
    """Tolerance bounds for the two rows-only HLL++ queries: hash-matching
    a sketch against DuckDB is impossible by construction (different
    register layouts), but the estimates CAN be held against their exact
    twins — |approx - exact| / exact <= 3*rsd (rsd = 0.02) per group, with
    a 2-count absolute floor for tiny NDVs (HLL++ sparse mode is
    near-exact there). Converts "unchecked" into "bounded"; results also
    land in <outDir>/sketch_bounds.json."""
    import os
    rsd, tol = 0.02, 3 * 0.02

    # an empty result dir must report FAIL-BOUND, not crash the formatter;
    # exact count 0 is a bounded comparison too (abs diff gate), not a
    # division error
    def rel_err(a, e):
        return abs(a - e) / e if e else (0.0 if a == 0 else float("inf"))

    def fmt4(w):
        return "n/a" if w is None else f"{w:.4f}"

    results, fails = {}, 0
    q25 = f"{out_dir}/q25_approx_distinct"
    if os.path.isdir(q25):
        rows = con.sql(
            f"SELECT l_returnflag, approx_parts, exact_parts FROM '{q25}/*.parquet'"
        ).fetchall()
        worst = max((rel_err(a, e)) for _, a, e in rows) if rows else None
        ok = bool(rows) and all(
            abs(a - e) <= max(2, tol * e) for _, a, e in rows)
        results["q25_approx_distinct"] = {
            "groups": len(rows), "max_rel_err": worst, "tol": tol, "ok": ok}
        print(f"{'BOUNDED' if ok else 'FAIL-BOUND'} q25_approx_distinct: "
              f"{len(rows)} groups, max rel err {fmt4(worst)} vs tol {tol}")
        fails += 0 if ok else 1
    prof = f"{out_dir}/profile_lineitem_approx"
    exact = f"{out_dir}/profile_lineitem"
    if os.path.isdir(prof) and os.path.isdir(exact):
        rows = con.sql(
            f"""SELECT a.column_name, a.n_distinct, e.n_distinct
                FROM '{prof}/*.parquet' a JOIN '{exact}/*.parquet' e
                USING (column_name)""").fetchall()
        worst = max((rel_err(a, e)) for _, a, e in rows) if rows else None
        ok = bool(rows) and all(
            abs(a - e) <= max(2, tol * e) for _, a, e in rows)
        results["profile_lineitem_approx"] = {
            "groups": len(rows), "max_rel_err": worst, "tol": tol, "ok": ok}
        print(f"{'BOUNDED' if ok else 'FAIL-BOUND'} profile_lineitem_approx: "
              f"{len(rows)} columns, max rel err {fmt4(worst)} vs tol {tol}")
        fails += 0 if ok else 1
    if results:
        json.dump(results, open(f"{out_dir}/sketch_bounds.json", "w"), indent=1)
    return fails

if __name__ == "__main__":
    main()
