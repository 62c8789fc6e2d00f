"""Seeded input generator for the graft benchmark.

Every table mirrors the physical schema and the column profile of the
shipped sf0.1 test layout (TPC-H-ish star schema, `events` tick tape,
`documents`, `embeddings`), so every registry key and its DuckDB oracle
run unchanged over a generated directory.  The same (seed, scale)
always yields byte-identical parquet files.

Inputs are cached under `<root>/<generator hash>-s<seed>-<scale>/`
behind a `_SUCCESS` marker that records a checksum of every file.  A
directory without the marker is a crashed generation and is rebuilt; a
marker whose checksum no longer matches the files is a stale or edited
cache and fails loudly.
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The tape covers January 2024, as the shipped events table does.
T0 = np.datetime64("2024-01-01T00:00:00", "us")
TAPE_DAYS = 30
SYMBOLS = 1500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
CSV_SYMBOLS = 16
KEEP_CACHED = 3

_GEN_HASH = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:12]


def _write(table, path):
    pq.write_table(table, path, compression="snappy", version="2.6")


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def tape(rng, n):
    """The tick tape: `event_id` order equals `ts` order (the replay
    invariant of the streaming registry), ts unique and uniform over the
    month, `user_id` (the symbol) and `event_type` uniform, `value`
    exponential with mean 50 at 2 dp, `props` {"k": 0..99}."""
    span = TAPE_DAYS * 86_400_000_000
    ts = np.unique(rng.integers(0, span, size=n + n // 50))
    while ts.size < n:
        ts = np.unique(np.concatenate([ts, rng.integers(0, span, size=n)]))
    ts = np.sort(rng.choice(ts, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(T0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, SYMBOLS, size=n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _days(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, size=n).astype("timedelta64[D]")
    return _ts(d.astype("datetime64[us]"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_schema(rng, sf):
    """region .. lineitem at `sf` (row counts of the shipped layout)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(a.astype(np.int32))
    i64 = lambda a: pa.array(a.astype(np.int64))
    money = lambda lo, hi, n: pa.array(np.round(rng.uniform(lo, hi, size=n), 2))
    pick = lambda xs, n: pa.array(np.array(xs)[rng.integers(0, len(xs), size=n)])
    out = {}
    out["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": i32(rng.integers(0, 25, size=n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": i32(rng.integers(0, 25, size=n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, size=n_part)], " "),
                                       noun[rng.integers(0, 8, size=n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": i32(rng.integers(1, 51, size=n_part)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2))})
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, size=n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, size=n_line)),
        "l_partkey": i64(rng.integers(0, n_part, size=n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, size=n_line)),
        "l_linenumber": i32(rng.integers(1, 8, size=n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(np.float64)),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": pa.array(rng.integers(0, 11, size=n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    return out


def corpus(rng, sf):
    """documents (30-word vocabulary, 5% near-duplicates carrying a
    trailing "dup", a few exact copies) and 64-d unit embeddings with
    weak per-label clusters."""
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    vocab = np.array(("a agg batch big column customer data fast filter group hash join key "
                      "line merge order part query row scan slow small sort spark stream "
                      "table the value vector window").split())
    texts = [" ".join(vocab[rng.integers(0, vocab.size, size=rng.integers(10, 101))])
             for _ in range(n_doc)]
    for j in sorted(rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False)):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    for j in rng.choice(np.arange(1, n_doc), size=max(1, n_doc // 600), replace=False):
        texts[j] = texts[int(rng.integers(0, j))]
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, size=n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, size=n_vec)
    centers = rng.normal(size=(10, 64))
    x = rng.normal(size=(n_vec, 64)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return {"documents": docs, "embeddings": emb}


def csv_tree(events, root):
    """The tape as a Dukascopy CSV tree: one directory per symbol
    (user_id mod 16), one `DateTime,Bid,Ask,Volume` file per day."""
    ts = events.column("ts").to_numpy()
    sym = events.column("user_id").to_numpy() % CSV_SYMBOLS
    bid = events.column("value").to_numpy()
    ask = bid * 1.0002 + 0.01
    vol = np.round(bid * 3.0 + 1.0, 1)
    day = ((ts - T0) // np.timedelta64(1, "D")).astype(np.int64)
    # yyyyMMdd HH:mm:ss.SSS, the converter's parse format
    stamp = np.array([s[0:4] + s[5:7] + s[8:10] + " " + s[11:]
                      for s in np.datetime_as_string(ts, unit="ms")])
    for s in range(CSV_SYMBOLS):
        d = os.path.join(root, f"SYM{s:02d}")
        os.makedirs(d)
        ms = sym == s
        for k in range(TAPE_DAYS):
            m = ms & (day == k)
            lines = [f"{a},{b!r},{c!r},{v!r}" for a, b, c, v in
                     zip(stamp[m], bid[m].tolist(), ask[m].tolist(), vol[m].tolist())]
            day_name = (dt.date(2024, 1, 1) + dt.timedelta(days=k)).strftime("%Y%m%d")
            with open(os.path.join(d, f"{day_name}.csv"), "w") as f:
                f.write("DateTime,Bid,Ask,Volume\n")
                f.write("\n".join(lines))
                f.write("\n")


def symbol_gold(events, root):
    """The same tape as one gold parquet directory per symbol
    (`datetime, bid, ask`), the layout `GoldIngest.readDir` reads."""
    ts = events.column("ts").to_numpy()
    sym = events.column("user_id").to_numpy() % CSV_SYMBOLS
    bid = events.column("value").to_numpy()
    for s in range(CSV_SYMBOLS):
        d = os.path.join(root, f"SYM{s:02d}")
        os.makedirs(d)
        m = sym == s
        _write(pa.table({"datetime": pa.array(ts[m].astype("datetime64[ms]"), type=pa.timestamp("ms")),
                         "bid": pa.array(bid[m]), "ask": pa.array(bid[m] * 1.0002 + 0.01)}),
               os.path.join(d, "part-00000.parquet"))


SCALES = {
    # name: (tape ticks, star-schema/corpus sf or None, write the CSV tree)
    "sf01": (100_000, 0.1, False),
    "lake": (100_000, None, True),
}


def _checksum(d):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            if f == "_SUCCESS":
                continue
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _build(d, seed, scale):
    n_ticks, sf, csv = SCALES[scale]
    ss = np.random.SeedSequence([seed, list(SCALES).index(scale)])
    r_tape, r_star, r_corpus = (np.random.default_rng(s) for s in ss.spawn(3))
    os.makedirs(d)
    ev = tape(r_tape, n_ticks)
    _write(ev, os.path.join(d, "events.parquet"))
    if sf is not None:
        for name, t in {**star_schema(r_star, sf), **corpus(r_corpus, sf)}.items():
            _write(t, os.path.join(d, f"{name}.parquet"))
    if csv:
        csv_tree(ev, os.path.join(d, "csv"))
        symbol_gold(ev, os.path.join(d, "gold_sym"))


def inputs(root, seed, scale):
    """Return the cached input directory for (seed, scale), building it
    if absent.  Raises on a stale cache."""
    d = os.path.join(root, f"{_GEN_HASH}-s{seed}-{scale}")
    marker = os.path.join(d, "_SUCCESS")
    if os.path.isdir(d) and not os.path.exists(marker):
        print(f"[perfbench] removing partial input cache {d}", file=sys.stderr)
        shutil.rmtree(d)
    if os.path.exists(marker):
        rec = json.load(open(marker))
        if rec.get("checksum") != _checksum(d):
            raise RuntimeError(f"stale input cache {d}: checksum mismatch; delete it")
        os.utime(d)
        return d, rec
    _evict(root)
    _build(d, seed, scale)
    rec = {"seed": seed, "scale": scale, "generator": _GEN_HASH, "checksum": _checksum(d),
           "rows": {}, "bytes": 0}
    for f in sorted(os.listdir(d)):
        p = os.path.join(d, f)
        if f.endswith(".parquet"):
            rec["rows"][f[:-8]] = pq.ParquetFile(p).metadata.num_rows
    for base, _, files in os.walk(d):
        rec["bytes"] += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    with open(marker + ".tmp", "w") as f:
        json.dump(rec, f)
    os.replace(marker + ".tmp", marker)
    return d, rec


def _evict(root):
    if not os.path.isdir(root):
        return
    ds = sorted((os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime)
    for old in ds[:max(0, len(ds) - (KEEP_CACHED - 1))]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    import time
    t = time.time()
    print(inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3]), time.time() - t)
