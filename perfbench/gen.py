"""Seeded input builder for the benchmark.

`build(root, seed, sf)` writes the ten engine tables (the TPC-H-ish star
schema plus events, documents and embeddings; schemas as in FIXTURES.md)
as one parquet file with one row group each, the shape of the fixtures
the engine is tuned on. `build_split(src, dst)` rewrites such a directory
into the production shape: every table above SPLIT_MIN_ROWS becomes a
directory of several files with small row groups, row-identical to the
source (checked with DuckDB).

The same (seed, sf) always gives the same bytes; a stamp file lets a later
run reuse a directory instead of rebuilding it.
"""
import datetime as dt
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SPLIT_MIN_ROWS = 5000
SPLIT_ROW_GROUP = 4096

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _tables(seed, sf):
    """Yields (name, pyarrow.Table); each table draws from its own stream
    so that changing one table's generator leaves the others unchanged."""
    ss = np.random.SeedSequence([GEN_VERSION, seed])
    rngs = dict(zip(TABLES, (np.random.default_rng(s)
                             for s in ss.spawn(len(TABLES)))))
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(100, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rngs["customer"]
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = rngs["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = rngs["part"]
    keys = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": keys,
        "p_name": _pick(r, ADJ, n_part) + " " + _pick(r, NOUN, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PTYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    r = rngs["orders"]
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})

    r = rngs["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days(r, "1995-01-02", 2498, n_line)})

    r = rngs["events"]
    gaps = r.exponential(30 * 86400e6 / max(n_ev, 1), n_ev)
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    # 5% of documents are a copy of another document plus one word, and a
    # few are exact copies: the dedup and near-dup operators need both.
    r = rngs["documents"]
    texts = [" ".join(_pick(r, WORDS, int(k)))
             for k in r.integers(10, 100, n_doc)]
    for i in r.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    for i in r.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(r.integers(0, n_doc))]
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = rngs["embeddings"]
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 0.02, (10, 64))
    vecs = (centers[labels] + r.normal(0.0, 0.125, (n_emb, 64))) \
        .astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _stamp_ok(root, stamp):
    try:
        with open(os.path.join(root, "_STAMP.json")) as f:
            return json.load(f) == stamp
    except (OSError, ValueError):
        return False


def _write_stamp(root, stamp):
    with open(os.path.join(root, "_STAMP.json"), "w") as f:
        json.dump(stamp, f)


def build(root, seed, sf):
    """Writes the single-file input for (seed, sf) under `root` unless a
    matching stamp is there. Returns {table: rows}."""
    stamp = {"gen": GEN_VERSION, "seed": seed, "sf": sf, "shape": "single"}
    if _stamp_ok(root, stamp):
        with open(os.path.join(root, "_ROWS.json")) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rows = {}
    for name, table in _tables(seed, sf):
        # one row group per file, like the fixtures
        pq.write_table(table, os.path.join(root, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    with open(os.path.join(root, "_ROWS.json"), "w") as f:
        json.dump(rows, f)
    _write_stamp(root, stamp)
    return rows


def parquet_glob(root, table):
    """DuckDB source for `table` under either input shape."""
    path = os.path.join(root, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def build_split(src, dst, files):
    """Rewrites `src` into `dst`: each table with at least SPLIT_MIN_ROWS
    rows becomes `files` files of SPLIT_ROW_GROUP-row row groups under a
    `<table>.parquet/` directory. Raises if DuckDB finds any table whose
    rows differ from the source."""
    with open(os.path.join(src, "_STAMP.json")) as f:
        stamp = dict(json.load(f), shape="split", files=files,
                     row_group=SPLIT_ROW_GROUP)
    if _stamp_ok(dst, stamp):
        return
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for name in TABLES:
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        out = os.path.join(dst, f"{name}.parquet")
        if table.num_rows < SPLIT_MIN_ROWS:
            shutil.copyfile(os.path.join(src, f"{name}.parquet"), out)
            continue
        os.makedirs(out)
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(out, f"part-{i:05d}.parquet"),
                           row_group_size=SPLIT_ROW_GROUP)
    check_identical(src, dst)
    _write_stamp(dst, stamp)


def check_identical(a, b):
    con = duckdb.connect()
    for name in TABLES:
        x, y = parquet_glob(a, name), parquet_glob(b, name)
        n = con.execute(
            f"SELECT (SELECT count(*) FROM '{x}'), (SELECT count(*) FROM '{y}'),"
            f" (SELECT count(*) FROM (SELECT * FROM '{x}' EXCEPT ALL"
            f"  SELECT * FROM '{y}')),"
            f" (SELECT count(*) FROM (SELECT * FROM '{y}' EXCEPT ALL"
            f"  SELECT * FROM '{x}'))").fetchone()
        if n[0] != n[1] or n[2] or n[3]:
            raise RuntimeError(f"split copy of {name} differs from source: "
                               f"rows {n[0]} vs {n[1]}, {n[2]}/{n[3]} unmatched")
