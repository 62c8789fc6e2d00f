#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check.py [sfdir] [outdir]
Reads outdir/<name>/ parquet (written by graft.Verify) and
outdir/oracle_sql.json, runs each oracle in DuckDB over the sfdir
tables, and compares (columns sorted by name, rows sorted, values
exact after stringify-with-rounding). Exits 1 when any key FAILs.
"""
import sys, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def null_like(v) -> bool:
    """None, NaN, NaT and pd.NA, which the stringified-cell hash spells alike."""
    return pd.api.types.is_scalar(v) and bool(pd.isna(v))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.floating):
            df[c] = s.round(6)
        elif np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            # one null spelling (NaN, as in a float column), so the atol
            # pass below never compares None with NaN
            df[c] = s.apply(lambda v: tuple(np.asarray(v).round(6).tolist())
                            if isinstance(v, (list, np.ndarray))
                            else np.nan if null_like(v) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    n_views = 0
    for t in TABLES:
        for src in (f"{sfdir}/{t}.parquet", f"{sfdir}/{t}.parquet/*.parquet"):
            try:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
                n_views += 1
                break
            except Exception:
                pass  # directory-style parquet, or a partial dir
                      # (e.g. the sf1 replica has only documents)
    if n_views == 0:
        sys.exit(f"no tables found under {sfdir} — wrong sfdir?")
    n_ok, failed = 0, []
    def fail(name, why):
        failed.append(name); print(f"FAIL {name}: {why}")
    names = sorted(set(oracle) | {g.split("/")[-1] for g in glob.glob(f"{outdir}/*") if not g.endswith(".json")})
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            fail(name, "no spark output"); continue
        spark_df = pd.read_parquet(f"{outdir}/{name}")
        if name not in oracle:
            print(f"rows {name}: {len(spark_df)} rows (no oracle)"); continue
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:
            fail(name, f"oracle error {e}"); continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            fail(name, f"cols spark={list(a.columns)} duck={list(b.columns)}"); continue
        # Dtype-CLASS gate: the driver's row hash stringifies values, so
        # an int64 Spark column vs a float64 oracle column ("32" vs
        # "32.0") hash-mismatches even when values are equal. r8 shipped
        # exactly that (DuckDB HUGEINT window sums -> float64) because
        # check_dtype=False below masked it. Int-vs-float drift is now a
        # hard local failure so local green predicts driver green.
        dtype_bad = []
        for c in a.columns:
            sa, sb = a[c].dtype, b[c].dtype
            ia, ib = np.issubdtype(sa, np.integer), np.issubdtype(sb, np.integer)
            fa, fb = np.issubdtype(sa, np.floating), np.issubdtype(sb, np.floating)
            if (ia and fb) or (fa and ib):
                dtype_bad.append(f"{c}: spark={sa} duck={sb}")
        if dtype_bad:
            fail(name, f"int/float dtype drift ({'; '.join(dtype_bad)})"); continue
        if len(a) != len(b):
            fail(name, f"rows spark={len(a)} duck={len(b)}"); continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-6)
        except AssertionError as e:
            fail(name, str(e).splitlines()[-1] if str(e) else "diff")
            merged = a.compare(b) if a.shape == b.shape else None
            if merged is not None and not merged.empty:
                print(merged.head(5))
            continue
        # STRICT stringify pass — the driver's hash stringifies each
        # (rounded) cell, so values pandas treats as equal can still
        # hash-mismatch: -0.0 vs 0.0 (DuckDB fp-round emits signed
        # zero; Spark BigDecimal-round never does — the ONLY r11 red),
        # int-ish floats ("1.0" vs "1"), NaT/None spellings. Exact
        # string equality on the canon frames is the driver criterion;
        # the atol pass above stays only for readable diffs.
        sdiff = []
        def cell(v):
            # None/nan/NaT spellings are equal to the driver (r11:
            # q_bns_jump, q_funnel_negation hashed green with spark
            # None vs duck nan) — normalize before repr. Tuples
            # (canon'd list cells) are never null-like.
            if not isinstance(v, tuple):
                try:
                    if pd.isna(v): return "<null>"
                except (TypeError, ValueError): pass
            return repr(v)
        for c in a.columns:
            sa = a[c].map(cell)
            sb = b[c].map(cell)
            bad = sa != sb
            if bad.any():
                i = int(np.argmax(bad.values))
                sdiff.append(f"{c}[{i}]: spark={sa.iloc[i]} duck={sb.iloc[i]} (+{int(bad.sum())-1} more)")
        if sdiff:
            fail(name, f"strict stringify drift ({'; '.join(sdiff[:4])})")
            continue
        print(f"OK   {name} ({len(a)} rows)"); n_ok += 1
    print(f"== {n_ok}/{len([n for n in names if n in oracle])} oracle-checked OK ==")
    sys.exit(1 if failed else 0)

if __name__ == "__main__":
    main()
