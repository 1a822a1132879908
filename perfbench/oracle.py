"""Oracle gate: each query's Spark output against its `SparkEntry.oracleSql`
run in DuckDB over the same parquet input.

The comparison is the one `tools/check.py` applies (columns sorted by
name, equal row counts, then per-column string equality row by row); it is
repeated here so the gate cannot change under an engine change.
"""
import glob
import json
import os

import duckdb
import pandas as pd

from gen import TABLES


def compare(spark, duck):
    """None if equal under check.py's rules, else a one-line reason."""
    s = spark[sorted(spark.columns)].reset_index(drop=True)
    q = duck[sorted(duck.columns)].reset_index(drop=True)
    if list(s.columns) != list(q.columns):
        return f"columns spark={list(s.columns)} duck={list(q.columns)}"
    if len(s) != len(q):
        return f"rows spark={len(s)} duck={len(q)}"
    diffs = []
    for c in s.columns:
        a, b = s[c], q[c]
        try:
            eq = a.astype(str) == b.astype(str)
        except Exception:
            eq = a == b
        if not eq.all():
            i = (~eq).idxmax()
            diffs.append(f"{c}[row {i}]: spark={a[i]!r} duck={b[i]!r} "
                         f"({(~eq).sum()} mismatches)")
    return "; ".join(diffs)[:400] if diffs else None


def check(input_dir, gate_dir, gate):
    """Run the gate over the outputs the harness dumped under `gate_dir`.
    `gate` maps query -> {"digest", "live_digest", "error"}. Returns
    {query: {"ok": bool, "digest": str|None, "defect": str|None}}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(gate_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for name, g in sorted(gate.items()):
        defect = None
        if g.get("error"):
            defect = f"query failed: {g['error']}"
        elif not oracle.get(name):
            defect = "no oracle SQL"
        elif g.get("live_digest") != g.get("digest"):
            defect = "digest of the live result differs from the digest of its written output"
        else:
            files = glob.glob(os.path.join(gate_dir, name, "*.parquet"))
            spark = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            try:
                duck = con.execute(oracle[name]).fetchdf()
                defect = compare(spark, duck)
            except Exception as e:
                defect = f"oracle SQL error: {str(e)[:300]}"
        out[name] = {"ok": defect is None,
                     "digest": g.get("digest") if defect is None else None,
                     "defect": defect}
    con.close()
    return out
