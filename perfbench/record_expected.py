#!/usr/bin/env python3
"""Record the query workloads' expected output hashes.

    python3 perfbench/record_expected.py <label>

Run from the repository root on the commit whose outputs are to be
trusted; <label> names that commit (for example its short hash). For
every query of the `reads` and `curate_ann` workloads it hashes the
engine's output over perfbench/data/sf0.01 and, where the query has
DuckDB oracle SQL, replays the oracle (each under a time limit). A hash
is recorded with source "duckdb-oracle" when the oracle finished and
agrees, else with source "engine@<label>" (the oracle is missing, timed
out, or disagrees; disagreements are printed). Writes
perfbench/expected_hashes.json.
"""
import json
import multiprocessing
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import outputs  # noqa: E402
import run  # noqa: E402

ORACLE_LIMIT_S = 120


def _oracle(sql, q):
    con = outputs.connect(run.DATA)
    q.put(outputs.frame_hash(con.sql(sql).df()))


def oracle_hash(sql):
    q = multiprocessing.Queue()
    p = multiprocessing.Process(target=_oracle, args=(sql, q))
    p.start()
    p.join(ORACLE_LIMIT_S)
    if p.is_alive():
        p.kill()
        p.join()
        return None
    return q.get() if p.exitcode == 0 else None


def main():
    label = sys.argv[1]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = run.build(os.getcwd(), build_dir)
    expected = {}
    for wl in ("reads", "curate_ann"):
        queries = run.WORKLOADS[wl]
        work = os.path.join(build_dir, "work", f"record-{wl}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        deadline = time.time() + 600
        sqls = run.run_jvm(classpath, work, ["--workload", "oracles", "--seed", "0",
                                             "--seconds", "0", "--queries", ",".join(queries)],
                           deadline)
        res = run.run_jvm(classpath, work, ["--workload", wl, "--seed", "0", "--seconds", "1",
                                            "--data", run.DATA, "--queries", ",".join(queries)],
                          deadline)
        if res is None or res["errors"]:
            sys.exit(f"{wl}: engine run failed: {res and res['errors']}")
        con = outputs.connect()
        for qn in queries:
            h, rows = outputs.output_hash(con, os.path.join(work, "out", qn))
            source = f"engine@{label}"
            if qn in sqls:
                t0 = time.time()
                oh = oracle_hash(sqls[qn])
                took = time.time() - t0
                if oh is None:
                    print(f"{qn}: oracle did not finish in {ORACLE_LIMIT_S} s")
                elif oh[0] != h:
                    print(f"{qn}: oracle DISAGREES ({oh[1]} rows vs {rows})")
                else:
                    source = "duckdb-oracle"
                    print(f"{qn}: oracle agrees ({rows} rows, {took:.1f} s)")
            else:
                print(f"{qn}: no oracle SQL")
            expected[qn] = {"hash": h, "rows": rows, "source": source}
        shutil.rmtree(work, ignore_errors=True)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
