"""DuckDB oracle check of the benchmark's own output dump.

The comparison rules are those of the repository's local correctness
gate: columns sorted by name, rows sorted, floats rounded to 6 dp, an
int-vs-float dtype drift is a failure, and the final criterion is exact
equality of the stringified cells (None/NaN/NaT are one null).  Keys
without an oracle are checked to have produced a readable, non-empty
output.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.floating):
            df[c] = s.round(6)
        elif np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.apply(lambda v: tuple(np.asarray(v).round(6).tolist())
                            if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell(v):
    if not isinstance(v, tuple):
        try:
            if pd.isna(v):
                return "<null>"
        except (TypeError, ValueError):
            pass
    return repr(v)


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    a, b = _canon(spark_df), _canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"cols spark={list(a.columns)} duck={list(b.columns)}"
    for c in a.columns:
        ia, ib = np.issubdtype(a[c].dtype, np.integer), np.issubdtype(b[c].dtype, np.integer)
        fa, fb = np.issubdtype(a[c].dtype, np.floating), np.issubdtype(b[c].dtype, np.floating)
        if (ia and fb) or (fa and ib):
            return f"int/float dtype drift in {c}: spark={a[c].dtype} duck={b[c].dtype}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype == y.dtype and x.dtype.kind in "iufbM":
            # equal values of one numeric dtype stringify equally, except
            # for the sign of zero, which is compared separately
            same = (x == y) | (pd.isna(x) & pd.isna(y))
            if x.dtype.kind == "f":
                same &= np.signbit(x) == np.signbit(y)
            if same.all():
                continue
        sa, sb = a[c].map(_cell), b[c].map(_cell)
        bad = sa != sb
        if bad.any():
            i = int(np.argmax(bad.values))
            return f"{c}[{i}]: spark={sa.iloc[i]} duck={sb.iloc[i]} (+{int(bad.sum()) - 1} more)"
    return None


def check(data_dir, dump_dir, keys):
    """Compare each key's dumped output with its oracle over `data_dir`.
    Returns {key: {"ok": bool, "rows": n, "oracle": bool, "reason": str|None}}."""
    oracle = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for k in keys:
        files = glob.glob(os.path.join(dump_dir, k, "*.parquet"))
        if not files:
            out[k] = {"ok": False, "rows": 0, "oracle": k in oracle, "reason": "no output"}
            continue
        sdf = pd.read_parquet(os.path.join(dump_dir, k))
        if k not in oracle:
            out[k] = {"ok": len(sdf) > 0, "rows": len(sdf), "oracle": False,
                      "reason": None if len(sdf) > 0 else "empty output, no oracle"}
            continue
        try:
            reason = compare(sdf, con.execute(oracle[k]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = f"oracle error {str(e).splitlines()[0][:200]}"
        out[k] = {"ok": reason is None, "rows": len(sdf), "oracle": True, "reason": reason}
    con.close()
    return out
