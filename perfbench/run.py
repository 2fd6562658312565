#!/usr/bin/env python3
"""Benchmark of the daq3ispark engine. See perfbench/README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine from `src/main` and the
harness from `perfbench/scala` (cached under $CARGO_TARGET_DIR, default
`.bench_build`), runs one workload in a fresh engine JVM, checks its
outputs, and prints one JSON object as the last line of stdout: the
end-to-end metrics of BENCHMARK.json, or with `--trace 1` its per-layer
metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import daq  # noqa: E402
import outputs  # noqa: E402

WARM_TICKS = 4
READS = ["d3_decode", "d4_conversion", "d5_latest_per_key", "d7_status_upsert",
         "d9_retention", "r3_fk_join", "q5_multi_join", "ts_downsample", "q_pivot",
         "q_salted_agg"]
CURATE_ANN = ["dd_apply", "t_classify_nb", "s_ann_ivfpq_add", "w_ann_sharded"]
WORKLOADS = {"ingest": None, "reads": READS, "curate_ann": CURATE_ANN}
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_hashes.json")
RUN_LIMIT_S = 170  # the whole run, build excluded
# a fixed heap with a fixed young generation and a compacting old
# generation: the engine's peak RSS then follows its old-generation high
# water mark instead of which heap regions the collector happened to touch
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-Xmn384m", "-XX:+UseParallelGC"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def scalac(classpath, out, sources):
    jars = spark_jars()
    compiler = ":".join(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                        glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                        glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    os.makedirs(out, exist_ok=True)
    subprocess.run(["java", "-Xss4m", "-Xmx1536m", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={out}", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", classpath, "-d", out] + sources,
                   check=True, stdout=sys.stderr)


def build(root, build_dir):
    """Compile engine + harness once per source version; returns the classpath."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    digest = hashlib.sha256()
    for p in engine + resources + harness:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    cp = [os.path.join(out, "engine"), os.path.join(out, "harness"), os.path.join(spark_jars(), "*")]
    if os.path.exists(os.path.join(out, "ok")):
        return ":".join(cp)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.time()
    scalac(os.path.join(spark_jars(), "*"), cp[0], engine)
    res_root = os.path.join(root, "src/main/resources")
    for p in resources:
        dst = os.path.join(cp[0], os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(f"{cp[0]}:{cp[2]}", cp[1], harness)
    open(os.path.join(out, "ok"), "w").close()
    log(f"built engine and harness in {time.time() - t0:.1f} s")
    return ":".join(cp)


def run_jvm(classpath, work, args, deadline):
    """Run the harness; returns its JSON result (None if it failed)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           JVM_HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.callstack.depth=60",
            "-cp", classpath, "perfbench.Main", "--work", work, "--out", out,
            "--cpus", str(os.cpu_count() or 4)] + args)
    with open(os.path.join(work, "engine.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log("engine JVM timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "engine.log")) as f:
            tail = f.read()[-3000:]
        log(f"engine JVM exited with {proc.returncode}:\n{tail}")
        return None
    with open(out) as f:
        return json.load(f)


def run_ingest(a, classpath, work, deadline):
    chans = daq.channels(a.seed)
    live = sum(not c.dead for c in chans)
    sim = daq.Simulator(a.seed, chans, kill_tick=a.inject_kill_tick)
    try:
        cfg = os.path.join(work, "ingest.conf")
        daq.write_config(cfg, a.seed, sim.port, WARM_TICKS, a.seconds, chans)
        res = run_jvm(classpath, work, ["--workload", "ingest", "--seed", str(a.seed),
                                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                                        "--config", cfg], deadline)
    finally:
        sim.close()
    if res is None:
        return None
    bad = []
    if not res["errors"]:
        if a.inject_flip_value:
            daq.flip_one_value(res["fact_dir"])
        bad = daq.check(a.seed, chans, WARM_TICKS + a.seconds, sim,
                        res["fact_dir"], res["status_dir"])
    for b in bad[:10]:
        log(f"ingest check: {b}")
    res["layers"]["sources.read_errors"] = sim.errors
    res["mismatches"] = len(bad)
    res["checked"] = live
    res["work"] = live * res["ops"]  # fact samples committed in the window
    return res


def run_queries(a, classpath, work, deadline):
    queries = WORKLOADS[a.workload]
    res = run_jvm(classpath, work, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                                    "--data", DATA, "--queries", ",".join(queries)], deadline)
    if res is None:
        return None
    expected = EXPECTED
    if a.inject_wrong_hash:
        with open(EXPECTED) as f:
            exp = json.load(f)
        exp[queries[0]]["hash"] = "0" * 64
        expected = os.path.join(work, "expected_wrong.json")
        with open(expected, "w") as f:
            json.dump(exp, f)
    bad = outputs.check(os.path.join(work, "out"), queries, expected)
    for q, why in sorted(bad.items()):
        log(f"{q}: {why}")
    for q, err in sorted(res["errors"].items()):
        log(f"{q} failed: {err}")
    res["mismatches"] = len(bad)
    res["checked"] = len(queries)
    res["work"] = res["ops"]  # query executions in the window
    return res


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # planted faults, for perfbench/test_bench.py only
    p.add_argument("--inject-kill-tick", type=int, default=None)
    p.add_argument("--inject-flip-value", action="store_true")
    p.add_argument("--inject-wrong-hash", action="store_true")
    a = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("run from the repository root: src/main/scala not found")
        sys.exit(2)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, build_dir)

    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run = run_ingest if a.workload == "ingest" else run_queries
        res = run(a, classpath, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None or not res["op_ms"] or res["window_s"] <= 0:
        log("no measurement")
        sys.exit(1)

    failed = res["failed_ops"] + res["mismatches"]
    attempted = res["ops"] + res["checked"]
    if a.trace and res["jobs_counted"] != res["jobs_span_sum"]:
        log(f"tracer lost jobs: {res['jobs_span_sum']} in spans, {res['jobs_counted']} counted")
        failed += 1
    ops = res["op_ms"]
    values = {
        "setup_s": res["setup_end_ms"] / 1000.0 - t0,
        # ticks: the median, robust to the odd retention tick; queries: the
        # geometric mean, since the list mixes queries of different cost
        "latency_ms": statistics.median(ops) if a.workload == "ingest"
        else statistics.geometric_mean(ops),
        "rate_per_s": res["work"] / res["window_s"],
        "peak_rss_mb": res["rss_mb"],
    }
    layers = dict(res["layers"])
    layers["failed_frac"] = failed / attempted
    layers["engine.cpu_ms_per_op"] = res["cpu_ms"] / len(ops)
    layers["machine.steal_frac"] = res["steal_frac"]
    log(f"machine steal during the window: {100 * res['steal_frac']:.1f}% of CPU time")
    if a.trace:
        trace_dir = os.path.join(build_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        side = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(side, "w") as f:
            json.dump({"end_to_end": values, "raw": res}, f, indent=1, sort_keys=True)
        if "largest_layer" in layers:
            log(f"largest layer per tick: {layers['largest_layer']}")
        log(f"trace written to {side}")
    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], layers.get(m["name"], 0.0))),
                           "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
