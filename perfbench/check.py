"""Output check: each job's result against its DuckDB oracle.

The rules are those of the repository's `tools/check_oracle.py`: columns
compared by name, DuckDB logical types compared exactly, rows compared as
sorted multisets (order-insensitive), values bit-exact with NaN equal to
NaN. A job without an oracle passes if its result was written.
"""
import glob
import json
import math
import os

import duckdb

from gen import TABLES


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _key(row):
    return tuple((c is None, str(c)) for c in row)


def check(fixture, out_dir, names):
    """Returns {job name: error message} for every job that does not match."""
    bad = {}
    oracle_path = os.path.join(out_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    for name in names:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no output written"
            continue
        if name not in oracle:
            continue
        try:
            grel = con.sql(f"SELECT * FROM '{files[0]}'")
            erel = con.sql(oracle[name])
            gcols, ecols = list(grel.columns), list(erel.columns)
            gtypes = dict(zip(gcols, map(str, grel.types)))
            etypes = dict(zip(ecols, map(str, erel.types)))
            got, exp = grel.fetchall(), erel.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error is a mismatch
            bad[name] = f"error: {e}"[:300]
            continue
        if sorted(gcols) != sorted(ecols):
            bad[name] = f"schema: {sorted(gcols)} vs {sorted(ecols)}"
            continue
        tdiff = {c: (gtypes[c], etypes[c]) for c in gtypes if gtypes[c] != etypes[c]}
        if tdiff:
            bad[name] = f"types: {tdiff}"
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        ei = [ecols.index(c) for c in sorted(ecols)]
        g = sorted((tuple(_norm(r[i]) for i in gi) for r in got), key=_key)
        e = sorted((tuple(_norm(r[i]) for i in ei) for r in exp), key=_key)
        if len(g) != len(e):
            bad[name] = f"rows: {len(g)} vs {len(e)}"
            continue
        diff = sum(1 for a, b in zip(g, e) if a != b)
        if diff:
            bad[name] = f"values: {diff}/{len(g)} rows differ"
    return bad
