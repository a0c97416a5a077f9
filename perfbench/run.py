#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dedup-pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Inputs are generated
per (workload, seed) under .bench_build/inputs/ from the read-only
fixtures ($GRAFT_TESTDATA, default ~/testdata). Each run writes under
its own .bench_build/runs/ directory.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}, with BENCHMARK.json's end_to_end metrics (--trace 0) or
its per_layer metrics (--trace 1). A wrong output or a failed op exits
non-zero. The lines before it state the run's settings, the inputs and
every figure by name with its unit.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dedup-pipeline", "serve-ingest")
# DuckDB replays of the dedup ops take 0.4-10 s each on these inputs,
# about 23 s for all five: too long for every run, since the benchmark's
# 48 runs must fit in 3420 s. So a run replays the one op its seed
# picks, and a run whose seed is a multiple of five replays all five. dd_semantic_best_dedup's replay
# needs more memory than a run may use; it is checked against
# dd_semantic_best instead.
ORACLE_OPS = ("dd_minhash", "dd_semantic_best", "dd_keep_best_dedup",
              "cp_dup_attribution", "knn_ivf_trained")
HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Units of the figures printed beside the result line.
INFO_UNITS = {"write_p50_s": "s", "write_tail_s": "s", "read_p50_s": "s",
              "read_tail_s": "s", "store_bytes_per_input_byte": "ratio",
              "error_rate": "ratio"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, and sbt's own state (global base, temp files, JVM perf
    # data) kept under .bench_build
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
         f"-Dsbt.global.base={BUILD}/sbt-global", f"-Djava.io.tmpdir={tmp}",
         f"-Djna.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(r.stdout + r.stderr)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (log: {os.path.join(BUILD, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, inputs, run_dir, budget_s):
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--inputs", inputs, "--run-dir", run_dir,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--rotate", str(args.rotate)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                               timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {budget_s:.0f} s (log: {run_dir}/jvm.log)")
    result = os.path.join(run_dir, "result.json")
    if r.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness exited {r.returncode} (log: {run_dir}/jvm.log)")
    with open(result) as f:
        return json.load(f)


def output_checks(res, inputs, run_dir, seed, stats):
    """The DuckDB replays of the seed's oracle ops over the same inputs,
    compared with scripts/preflight.py's normalisation; and, on inputs
    without duplicate vectors, dd_semantic_best_dedup's output against
    dd_semantic_best's (the exact-first composition is lossless there)."""
    outputs = res["outputs"]
    if not outputs:
        return []
    spec = importlib.util.spec_from_file_location(
        "preflight", os.path.join(ROOT, "scripts", "preflight.py"))
    preflight = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(preflight)
    import duckdb
    import pandas as pd
    n = len(ORACLE_OPS)
    ops = ORACLE_OPS if seed % n == 0 else (ORACLE_OPS[seed % n],)
    checks = []
    con = duckdb.connect()
    try:
        con.sql("SET memory_limit='3GB'")
        con.sql(f"SET temp_directory='{run_dir}/tmp'")
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        for op in ops:
            ddf = con.sql(res["oracle_sql"][op]).df()
            sdf = pd.read_parquet(outputs[op])
            err = preflight.compare(op, sdf, ddf)
            checks.append({"name": f"oracle.{op}", "ok": err is None,
                           "detail": err or f"{len(sdf)} rows"})
    finally:
        con.close()
    if stats["vec_exact_dup_share"] == 0:
        a = pd.read_parquet(outputs["dd_semantic_best_dedup"])
        b = pd.read_parquet(outputs["dd_semantic_best"])
        err = preflight.compare("dd_semantic_best_dedup", a, b)
        checks.append({"name": "same.dd_semantic_best_dedup=dd_semantic_best",
                       "ok": err is None, "detail": err or f"{len(a)} rows"})
    return checks


def phase(t_start, what):
    print(f"perfbench: {what} at {time.time() - t_start:.1f} s", file=sys.stderr)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--rotate", type=int, default=0,
                    help="rotate the batch op order (first-op inflation check)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) are missing beside the benchmark")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    fixtures = os.environ.get("GRAFT_TESTDATA",
                              os.path.join(os.path.expanduser("~"), "testdata"))
    if not os.path.exists(os.path.join(fixtures, "sf0.1", "documents.parquet")):
        fail(f"fixtures not found under {fixtures} (set GRAFT_TESTDATA)")

    sys.path.insert(0, HERE)
    import gen
    cp = build()
    phase(t_start, "build ready")
    t_run = time.time()  # the run deadline leaves out the one-time build
    inputs, stats = gen.inputs(args.workload, args.seed, fixtures, BUILD)
    phase(t_start, "inputs ready")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-t{args.trace}-", dir=os.path.join(BUILD, "runs"))
    res = run_jvm(cp, args, inputs, run_dir, DEADLINE_S - (time.time() - t_run))
    phase(t_start, "harness done")
    checks = res["checks"] + output_checks(res, inputs, run_dir, args.seed, stats)
    phase(t_start, "checks done")
    n_oracle = len(checks) - len(res["checks"])
    attempted = res["attempted"] + n_oracle
    failed = res["failed"] + sum(1 for c in checks[len(res["checks"]):] if not c["ok"])
    for d in ("local", "tmp", "warehouse", "outputs"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={res['cpus']} driver_heap_mb={res['driver_heap_max_mb']:.0f} "
          f"clients={res['clients']} run_dir={os.path.relpath(run_dir, ROOT)}")
    print("inputs: " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                for k, v in stats.items())
          + f" input_over_storage_memory="
            f"{stats['input_bytes'] / (res['storage_memory_mb'] * 2**20):.2e}")
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"error {e}")
    info = dict(res["info"])
    info["error_rate"] = failed / max(attempted, 1)
    print("ops median_s: " + " ".join(f"{k}={v:.4f}" for k, v in info.pop("op_median_s").items()))
    for k, v in info.items():
        if k in INFO_UNITS:
            print(f"metric {k} {v:.6g} {INFO_UNITS[k]}")
        else:
            print(f"info {k} {v}")

    key = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[key]:
        v = res[key].get(m["name"], 0.0 if args.trace else None)
        if v is None:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if not args.trace:
            print(f"metric {m['name']} {v:.6g} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
