"""DuckDB side of the correctness checks: row counts of each query's
oracle SQL (computed once per input directory and cached there), and the
full value compare of the traced run, canonicalised as in
tools/check_oracle.py (columns sorted by name, rows sorted, floats rounded
to 1e-9 with their sign bit)."""
import hashlib
import json
import math
import os

import duckdb

import gen


def _connect(data_dir):
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{gen.parquet_glob(data_dir, t)}'")
    return con


def _key(sql):
    return hashlib.sha1(sql.encode()).hexdigest()


def counts(data_dir, sqls):
    """{query: row count of its oracle SQL over data_dir}."""
    path = os.path.join(data_dir, "_ORACLE_COUNTS.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    missing = {n: s for n, s in sqls.items() if _key(s) not in cache}
    if missing:
        con = _connect(data_dir)
        for sql in missing.values():
            body = sql.strip().rstrip(";")
            cache[_key(sql)] = con.execute(f"SELECT count(*) FROM ({body})").fetchone()[0]
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {n: cache[_key(s)] for n, s in sqls.items()}


def canon(rows):
    out = []
    for row in rows:
        out.append(tuple(
            ("f", "nan") if isinstance(v, float) and math.isnan(v) else
            ("f", math.copysign(1.0, v), round(v, 9)) if isinstance(v, float) else
            ("v", str(v)) for v in row))
    out.sort()
    return out


def _sorted_rows(cur):
    desc = [d[0] for d in cur.description]
    rows = cur.fetchall()
    idx = [i for i, _ in sorted(enumerate(desc), key=lambda p: p[1])]
    return sorted(desc), canon([[r[i] for i in idx] for r in rows])


def compare(data_dir, sqls, result_dir):
    """{query: None if the dumped result equals the oracle's, else why}."""
    con = _connect(data_dir)
    out = {}
    for name, sql in sqls.items():
        path = os.path.join(result_dir, name)
        if not os.path.isdir(path):
            out[name] = "no result dumped"
            continue
        try:
            exp_cols, exp = _sorted_rows(con.execute(sql))
            got_cols, got = _sorted_rows(con.execute(f"SELECT * FROM '{path}/*.parquet'"))
        except duckdb.Error as e:
            out[name] = f"error {e}"
            continue
        if exp_cols != got_cols:
            out[name] = f"columns {got_cols} != oracle {exp_cols}"
        elif len(exp) != len(got):
            out[name] = f"rows {len(got)} != oracle {len(exp)}"
        elif exp != got:
            out[name] = f"{sum(a != b for a, b in zip(exp, got))} rows differ"
        else:
            out[name] = None
    return out
