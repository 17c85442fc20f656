"""Output checks: Spark's parquet outputs against SparkEntry.oracleSql run
in DuckDB on the same inputs, and the word-count text sink against the
corpus replay.

The table rule is tools/check_oracle.py's: same column-name set, same row
count, and the same multiset of rows once columns are sorted by name
(order-insensitive). Expected rows are cached per (inputs, SQL) key.
"""
import glob
import hashlib
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    cols = sorted(df.columns)
    return cols, sorted(map(repr, df[cols].itertuples(index=False, name=None)))


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def expected(data_dir, data_key, sql, cache_dir):
    """Canonical oracle rows for `sql`, cached under cache_dir."""
    key = hashlib.sha256(f"{data_key}\0{sql}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    con = _connect(data_dir)
    try:
        res = _canon(con.execute(sql).fetchdf())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(res, fh)
    os.replace(tmp, path)
    return res


def check_table(out_dir, exp):
    """(ok, message) for one job's parquet output against its oracle."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return False, "no output"
    con = duckdb.connect()
    try:
        got = _canon(con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(out_dir, '*.parquet')}')").fetchdf())
    finally:
        con.close()
    if got[0] != exp[0]:
        return False, f"columns {got[0]} vs {exp[0]}"
    if len(got[1]) != len(exp[1]):
        return False, f"rows {len(got[1])} vs {len(exp[1])}"
    if got[1] != exp[1]:
        diff = [(a, b) for a, b in zip(got[1], exp[1]) if a != b][:2]
        return False, f"values differ: {diff}"
    return True, "ok"


def read_text_counts(out_dir):
    """The word-count text sink (`word count` per line) as a dict."""
    counts = {}
    for f in glob.glob(os.path.join(out_dir, "part-*")):
        with open(f, "rb") as fh:
            for line in fh.read().split(b"\n"):
                if line:
                    w, n = line.rsplit(b" ", 1)
                    if w in counts:
                        return None
                    counts[w] = int(n)
    return counts


def check_counts(out_dir, exp):
    got = read_text_counts(out_dir)
    if got is None:
        return False, "duplicate word in output"
    if got == exp:
        return True, "ok"
    missing = [w for w in exp if got.get(w) != exp[w]][:3]
    extra = [w for w in got if w not in exp][:3]
    return False, f"{len(got)} vs {len(exp)} words; differ {missing}, extra {extra}"
