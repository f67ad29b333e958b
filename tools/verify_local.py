#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run each oracle_sql in
DuckDB over the same parquet tables and compare (sorted rows, sorted
columns) against the Verify.scala parquet dumps.

EXACT comparison is the default; a row that fails bit-exact but matches
after rounding every float column to 6 decimals is `OK~6dp` (still a
pass: the r14 evidence pins the driver's hash at 6-decimal granularity —
the two 1-ulp-at-the-6th-decimal pcm rows failed it while sub-6dp
differences in train_transe_adagrad/adam passed). Anything that doesn't
match at 6dp is BAD, tolerance passes included — the old rtol=1e-9
default passed rows the driver rejects (the r14 red-row bug). Pass
--tolerant to restore the rtol-pass behavior (debugging only).

Every row's line ends with two digests of the oracle's own DuckDB result
(columns sorted by name, rendered rows sorted): `oracle=` renders floats
at full precision (shortest round-trip repr), `oracle6=` rounds them to
6 decimals. Equal digests before and after an edit to a row's oracle SQL
show that the edit did not move the oracle."""
import hashlib, json, math, sys, glob, os
import duckdb
import numpy as np
import pandas as pd

args = [a for a in sys.argv[1:] if not a.startswith("--")]
tolerant = "--tolerant" in sys.argv
sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")


def digest(df, dp=None):
    """SHA-256 over the sorted column names and the sorted rendered rows."""
    def cell(v):
        if v is None or v is pd.NA or v is pd.NaT:
            return "NULL"
        if isinstance(v, (float, np.floating)):
            f = float(v)
            if math.isnan(f):
                return "NULL"
            return repr(f) if dp is None else f"{round(f, dp) + 0.0:.{dp}f}"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        return repr(v)
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
n_ok = n_bad = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{out_dir}/{name}"
    try:
        want = con.sql(sql).df()
    except Exception as e:
        print(f"ERROR    {name}: {e}"); n_bad += 1; continue
    sig = f" oracle={digest(want)} oracle6={digest(want, 6)}"
    if not os.path.isdir(res_dir):
        print(f"MISSING  {name}{sig}"); n_bad += 1; continue
    try:
        mine = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'").df()
    except Exception as e:
        print(f"ERROR    {name}: {e}{sig}"); n_bad += 1; continue
    mine = mine[sorted(mine.columns)]
    want = want[sorted(want.columns)]
    if list(mine.columns) != list(want.columns):
        print(f"SCHEMA   {name}: {list(mine.columns)} vs {list(want.columns)}{sig}")
        n_bad += 1; continue
    ms = mine.sort_values(by=list(mine.columns)).reset_index(drop=True)
    ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    if len(ms) != len(ws):
        print(f"ROWS     {name}: {len(ms)} vs {len(ws)}{sig}"); n_bad += 1; continue
    try:
        pd.testing.assert_frame_equal(ms, ws, check_dtype=False,
                                      check_exact=True)
        print(f"OK       {name} ({len(ms)} rows){sig}"); n_ok += 1
        continue
    except AssertionError as exact_err:
        exact_msg = str(exact_err).splitlines()[-1]
    # Driver-faithful fallback: the driver hashes at 6-decimal
    # granularity, so compare the 6dp-rounded frames bit-exactly.
    try:
        pd.testing.assert_frame_equal(ms.round(6), ws.round(6),
                                      check_dtype=False, check_exact=True)
        print(f"OK~6dp   {name} ({len(ms)} rows) "
              f"[not bit-exact, matches at 6 decimals: {exact_msg[:120]}]{sig}")
        n_ok += 1
        continue
    except AssertionError:
        pass
    try:
        pd.testing.assert_frame_equal(ms, ws, check_dtype=False,
                                      check_exact=False, rtol=1e-9, atol=1e-9)
        # Passes only under tolerance — the driver's 6dp hash REJECTS
        # this (the r14 red-row class). BAD unless --tolerant.
        if tolerant:
            print(f"OK~tol   {name} ({len(ms)} rows) [exact: {exact_msg}]{sig}")
            n_ok += 1
        else:
            print(f"TOL-ONLY {name}: fails at 6dp, passes rtol=1e-9 "
                  f"[{exact_msg[:200]}]{sig}")
            n_bad += 1
    except AssertionError as e:
        print(f"VALUES   {name}: {str(e).splitlines()[-1][:300]}{sig}"); n_bad += 1
print(f"\n{n_ok} ok, {n_bad} bad")
sys.exit(1 if n_bad else 0)
