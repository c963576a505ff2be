#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
parquet vs oracle_sql.json in DuckDB, compare sorted frames."""
import json, sys, glob, os, time
import duckdb
import pandas as pd

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_verify"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# optional name filters (match Verify's): check only queries containing
# any given substring — builder-side iteration speedup
if len(sys.argv) > 3:
    subs = sys.argv[3:]
    oracle = {k: v for k, v in oracle.items() if any(s in k for s in subs)}
fails = 0
for name, sql in sorted(oracle.items()):
    pdir = f"{outdir}/{name}"
    if not os.path.isdir(pdir):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        grel = con.sql(f"SELECT * FROM '{pdir}/*.parquet'")
        wrel = con.sql(sql)
        # the DRIVER's hash is dtype-aware where pandas compare is not:
        # DuckDB quirks (sum(BIGINT) -> HUGEINT, literal CASE ->
        # DECIMAL) pass a value compare but red-flag the driver, so
        # dtype divergence is a local FAIL too
        gt = dict(zip(grel.columns, [str(t) for t in grel.types]))
        wt = dict(zip(wrel.columns, [str(t) for t in wrel.types]))
        dd = [c for c in wt if c in gt and gt[c] != wt[c]]
        if dd:
            print(f"FAIL {name}: dtype divergence " +
                  ", ".join(f"{c}: spark {gt[c]} vs oracle {wt[c]}" for c in dd))
            fails += 1; continue
        got = grel.df()
        t0 = time.perf_counter()
        want = wrel.df()
        osec = time.perf_counter() - t0
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}"); fails += 1; continue
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    want = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); fails += 1; continue
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        print(f"PASS {name} ({len(got)} rows, oracle {osec:.2f} s)")
    except AssertionError as e:
        # retry with tolerance to show severity
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9, rtol=1e-12)
            print(f"WARN {name}: matches only with 1e-9 tolerance (oracle {osec:.2f} s)"); fails += 1
        except AssertionError:
            print(f"FAIL {name}: values differ (oracle {osec:.2f} s)\n{str(e)[:500]}"); fails += 1
print(f"\n{len(oracle) - fails}/{len(oracle)} pass")
sys.exit(1 if fails else 0)
