"""Order-strict output check for finance_mix.

Each query's dump (written by the harness on the session it timed,
coalesced to one file so row order survives) is compared with its
SparkEntry.oracleSql statement run in DuckDB over the same fixture,
row by row IN OUTPUT ORDER: same columns, same row count, values equal
exactly, and doubles equal bit for bit. A match only within 1e-9 is a
warning, not a failure, as in the repository's own compare script.
Unlike that script, rows are never sorted before comparing, so an
output-order regression fails here.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _one(con, sql, dump):
    if not sql:
        return "no oracle statement"
    got = pd.read_parquet(dump)
    want = con.execute(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    got = got[list(want.columns)].reset_index(drop=True)
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError:
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-9, atol=1e-9)
            return "WARN"
        except AssertionError as e:
            return str(e).replace("\n", " ")[:300]
    for c in got.columns:
        if got[c].dtype == np.float64 or want[c].dtype == np.float64:
            g = got[c].astype(np.float64).to_numpy()
            w = want[c].astype(np.float64).to_numpy()
            nd = int(((g.view(np.int64) != w.view(np.int64)) & ~(np.isnan(g) & np.isnan(w))).sum())
            if nd:
                return f"value-equal but {nd} bit-different doubles in {c}"
    return None


def compare(fixture, dumps, oracles_json, names, log):
    """Returns the names whose output fails the order-strict compare."""
    with open(oracles_json) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    bad = []
    for n in names:
        try:
            err = _one(con, oracles.get(n, ""), os.path.join(dumps, n))
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:300]
        if err == "WARN":
            log(f"oracle WARN {n}: matches only within 1e-9")
        elif err:
            log(f"oracle FAIL {n}: {err}")
            bad.append(n)
    con.close()
    return bad
