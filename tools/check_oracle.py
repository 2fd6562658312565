#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare (driver-side tooling
only — NOT part of the engine). Usage:
    python3 tools/check_oracle.py <sfDir> <verifyOutDir> [jsonOut]
For each query dir under outDir: load our parquet result, run the oracle
SQL from oracle_sql.json in DuckDB over the sfDir tables, sort columns by
name + rows by all columns, and compare exactly. Reports per-query
PASS/FAIL with a diff preview, mirroring CORRECTNESS_r{N}.json strictness.
Every oracle_sql.json key without an output dir is reported as FAIL.

If [jsonOut] is given (or by default <verifyOutDir>/correctness_local.json),
also writes the driver's per-query artifact shape:
    {"<query>": {"rows_match": bool, "schema_match": bool,
                 "hash_match": bool, "err": null|str}, ...}
so the committed local evidence is diffable against the driver's
CORRECTNESS_r{N}.json the moment the driver pipeline recovers.
"""
import json, sys, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main(sf_dir, out_dir, json_out=None):
    if json_out is None:
        json_out = os.path.join(out_dir, "correctness_local.json")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    report = {}
    def record(name, rows, schema, hsh, err=None):
        report[name] = {"rows_match": rows, "schema_match": schema,
                        "hash_match": hsh, "err": err}
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        try:
            got = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: cannot read engine output: {e}")
            record(name, False, False, False, f"cannot read engine output: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check, rows={len(got)})")
            record(name, len(got) > 0, True, True,
                   None if len(got) > 0 else "rows-only check: empty result")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            record(name, False, False, False, f"oracle SQL error: {e}")
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            record(name, len(g) == len(w), False, False,
                   f"columns {list(g.columns)} != {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            record(name, False, True, False, f"rows {len(g)} != {len(w)}")
            n_fail += 1
            continue
        neq = (g.fillna("<NULL>").astype(str) != w.fillna("<NULL>").astype(str))
        if neq.any().any():
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(g)} rows differ; first diffs:")
            print("  engine:", g[bad].head(3).to_dict("records"))
            print("  oracle:", w[bad].head(3).to_dict("records"))
            record(name, True, True, False, f"{int(bad.sum())}/{len(g)} rows differ")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            record(name, True, True, True)
            n_pass += 1
    # a query that died in Verify leaves no output directory: it fails
    # here instead of dropping out of the report
    for name in sorted(set(oracles) - set(report)):
        print(f"FAIL {name}: no engine output")
        record(name, False, False, False, "no engine output")
        n_fail += 1
    with open(json_out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"== {n_pass} pass, {n_fail} fail == (json: {json_out})")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
