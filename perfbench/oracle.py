"""Output checks: gate outputs against the DuckDB oracle, and ETL write
steps read back against their expected contents.

The gate comparison follows the repository's correctness harness: columns
sorted by name, equal row count and order, equal dtypes, floats within
1e-9 (relative and absolute), and no negative zero on either side. A gate
without oracle SQL (q_approx_stats) is checked for readable rows only.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_frames(data_dir, sqls, cache_dir):
    """{gate: DataFrame or error string}, each cached by input directory
    and SQL text."""
    os.makedirs(cache_dir, exist_ok=True)
    con, out = None, {}
    for name, sql in sorted(sqls.items()):
        h = hashlib.sha256(f"{os.path.realpath(data_dir)}\0{sql}".encode())
        path = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        con = con or _connect(data_dir)
        try:
            df = con.execute(sql).df()
        except Exception as e:  # an oracle that errors fails its gate
            out[name] = f"oracle SQL error: {e}"
            continue
        df.to_pickle(path)
        out[name] = df
    return out


def load_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return duckdb.connect().execute(
        f"SELECT * FROM read_parquet({files!r})").df()


def compare(spark_df, duck_df):
    """Problems found comparing a gate's output with its oracle's; empty
    when they agree."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return [f"columns spark={list(s.columns)} duck={list(d.columns)}"]
    if len(s) != len(d):
        return [f"rowcount spark={len(s)} duck={len(d)}"]
    probs = []
    for c in s.columns:
        sv, dv = s[c], d[c]
        if str(sv.dtype) != str(dv.dtype):
            probs.append(f"dtype[{c}] spark={sv.dtype} duck={dv.dtype}")
        try:
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                a, b = sv.astype(float), dv.astype(float)
                for side, v in (("spark", a), ("duck", b)):
                    nz = (v == 0.0) & np.signbit(v) & ~v.isna()
                    if nz.any():
                        probs.append(f"negzero[{c}] on {side}: "
                                     f"{int(nz.sum())} rows")
                close = pd.Series(np.isclose(a, b, rtol=1e-9, atol=1e-9),
                                  index=a.index)
                neq = ~(close | (a.isna() & b.isna()))
                if neq.any():
                    probs.append(f"values[{c}]: {int(neq.sum())} differ")
            else:
                neq = ~((sv == dv) | (sv.isna() & dv.isna()))
                if neq.any():
                    i = int(neq.idxmax())
                    probs.append(f"values[{c}]: {int(neq.sum())} differ, "
                                 f"first at row {i}: spark={sv[i]!r} "
                                 f"duck={dv[i]!r}")
        except Exception as e:
            probs.append(f"compare[{c}] error: {e}")
    return probs


def check_gates(out_dir, oracles, gates):
    """{gate: (problem or None, expected row count or None)}."""
    res = {}
    for g in gates:
        try:
            got = load_output(os.path.join(out_dir, "gates", g))
        except Exception as e:
            res[g] = (f"unreadable output: {e}", None)
            continue
        want = oracles.get(g)
        if want is None:
            res[g] = (None, len(got))
        elif isinstance(want, str):
            res[g] = (want, None)
        else:
            p = compare(got, want)
            res[g] = ("; ".join(p[:4]) if p else None, len(want))
    return res


def check_zone(processed_dir, error_dir, processed, error):
    """The zone directories hold exactly the expected records (as
    multisets; Spark's JSON writer omits NULL fields)."""
    def read(d):
        recs = []
        for f in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(f) as fh:
                recs.extend(json.loads(line) for line in fh if line.strip())
        return recs

    def norm(records):
        return sorted(json.dumps({k: v for k, v in r.items()
                                  if v is not None}, sort_keys=True)
                      for r in records)

    probs = []
    for zone, d, want in (("processed", processed_dir, processed),
                          ("error", error_dir, error)):
        got = read(d)
        if norm(got) != norm(want):
            probs.append(f"{zone} zone: {len(got)} records, "
                         f"{len(want)} expected or contents differ")
    return "; ".join(probs) or None
