#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with views
over <sfDir>/*.parquet, loads the Spark result parquet from
<verifyOutDir>/<name>/, sorts columns by name and rows by all columns,
and compares values (exact for non-floats, 1e-9 rel tol for floats —
the real driver hashes, so we also report exact-match status).
"""
import json, os, sys, glob
import duckdb
import pandas as pd
import numpy as np

def canon(df):
    # sort keys: non-float columns first, floats rounded to 9dp — so a
    # sub-tolerance fp difference can never reorder rows between frames —
    # then the full-precision floats as tiebreakers, so rows identical on
    # every rounded key still sort frame-independently (two rows equal on
    # all keys but differing past 9dp must not keep insertion order)
    df = df[sorted(df.columns)]
    keyed = df.copy()
    keys = []
    float_cols = []
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            keyed[f"__k_{c}"] = df[c].round(9)
            keys.append(f"__k_{c}")
            float_cols.append(c)
        else:
            keys.append(c)
    order = ([k for k in keys if not k.startswith("__k_")]
             + [k for k in keys if k.startswith("__k_")]
             + float_cols)
    keyed = keyed.sort_values(by=order, kind="mergesort", na_position="first")
    return keyed[list(df.columns)].reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        # a table may be a DIRECTORY of part files (Spark-written
        # rehearsal dirs); driver testdata is one file
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: no spark output dir"); n_fail += 1; continue
        try:
            got = pd.read_parquet(spark_path)
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        g, w = canon(got), canon(want)
        ok = True; exact = True
        for c in g.columns:
            gc, wc = g[c], w[c]
            if pd.api.types.is_float_dtype(gc) or pd.api.types.is_float_dtype(wc):
                gv = gc.astype(float).to_numpy(); wv = wc.astype(float).to_numpy()
                same = (np.isnan(gv) & np.isnan(wv)) | np.isclose(gv, wv, rtol=1e-9, atol=1e-12, equal_nan=True)
                if not same.all():
                    bad = np.where(~same)[0][:3]
                    print(f"  {name}.{c} mismatch at rows {bad}: {gv[bad]} vs {wv[bad]}")
                    ok = False
                if not np.array_equal(gv, wv, equal_nan=True):
                    exact = False
            else:
                gs = gc.astype(str).to_numpy(); ws = wc.astype(str).to_numpy()
                if not (gs == ws).all():
                    bad = np.where(gs != ws)[0][:3]
                    print(f"  {name}.{c} mismatch at rows {bad}: {gs[bad]} vs {ws[bad]}")
                    ok = False; exact = False
        # dtype parity matters for the driver's schema check
        gt = {c: str(g[c].dtype) for c in g.columns}
        wt = {c: str(w[c].dtype) for c in w.columns}
        dt_note = "" if gt == wt else f" [dtype diff: {{c: (gt[c], wt[c]) for c in gt if gt[c] != wt[c]}}]".replace(
            "{c: (gt[c], wt[c]) for c in gt if gt[c] != wt[c]}",
            str({c: (gt[c], wt[c]) for c in gt if gt[c] != wt[c]}))
        if ok:
            tag = "PASS" if exact else "PASS(~fp)"
            print(f"{tag} {name}: {len(g)} rows{dt_note}"); n_pass += 1
        else:
            print(f"FAIL {name}{dt_note}"); n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
