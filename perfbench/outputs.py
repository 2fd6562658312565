"""Order-independent hashes of query outputs, for the query workloads' check.

A result is canonicalised the way the repository's DuckDB-oracle compare
does it (tools/check_oracle.py): columns sorted by name, every cell
rendered with pandas `astype(str)` after NULLs become "<NULL>". Rows are
then sorted as rendered and hashed, so row order never matters.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def frame_hash(df):
    df = df[sorted(df.columns)].fillna("<NULL>").astype(str)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(list(df.columns)).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest(), len(rows)


def output_hash(con, qdir):
    return frame_hash(con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df())


def connect(data_dir=None):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    if data_dir:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check(out_dir, queries, expected_file):
    """Mismatched queries: missing output, wrong hash, or no expectation."""
    with open(expected_file) as f:
        expected = json.load(f)
    con = connect()
    bad = {}
    for q in queries:
        want = expected.get(q)
        qdir = os.path.join(out_dir, q)
        if want is None:
            bad[q] = "no expected hash recorded"
        elif not os.path.isdir(qdir):
            bad[q] = "no output"
        else:
            try:
                got, rows = output_hash(con, qdir)
            except duckdb.Error as e:
                bad[q] = f"unreadable output: {e}"
                continue
            if got != want["hash"]:
                bad[q] = f"hash {got[:12]} ({rows} rows) != expected {want['hash'][:12]} " \
                         f"({want['rows']} rows, {want['source']})"
    con.close()
    return bad
