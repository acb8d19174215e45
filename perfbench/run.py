#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload decode_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source with sbt (once per checkout: the classpath is cached in .bench_build/
and rebuilt when a source file changes), generates the run's inputs from the
seed (perfbench/gen.py for parquet tables; the harness itself for Avro
traffic), runs one workload in one JVM on local[<cores>], checks the
outputs, and prints one JSON line last on stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1 its
per_layer metrics (and prints the decode layer table on stderr). Every run's
full record is also written to its own file under perfbench/results/, named
by workload, core count, seed, trace flag and start time; no run overwrites
another's. The process exits non-zero when an output is wrong.
"""
import argparse
import concurrent.futures
import gzip
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("decode_batch", "decode_stream_mixed", "extension_mix")
# extension_mix times its queries on sf MIX_SF tables, after a warm-up pass
# on sf SMALL_SF copies; the decode workloads read sf 0.1 events
MIX_SF = 0.03
SMALL_SF = 0.002
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it, so no process outlives the run."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout}s")


def classpath():
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g")
    build_log = os.path.join(BUILD, "build.log")
    log("building the program and harness with sbt")
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "export Runtime/fullClasspath"], HERE, env, 850, build_log)
    with open(build_log, errors="replace") as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise RuntimeError(f"sbt build failed (exit {rc}); see {build_log}")
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def check_batch(res, data):
    """decode_batch: the first copy's decoded aggregates equal the source
    parquet's."""
    got = res["details"]["aggregates"]
    n, s_id, s_val, types = duckdb.sql(
        "SELECT count(*), sum(event_id), sum(CAST(value AS DECIMAL(18,2))), "
        f"count(DISTINCT event_type) FROM '{data}/events.parquet'").fetchone()
    want = {"n": n, "sum_event_id": s_id, "sum_value": s_val,
            "event_types": types}
    return {f"batch.{k}": {"ok": str(got[k]) == str(v), "expected": str(v),
                           "actual": str(got[k])} for k, v in want.items()}


def check_mix(res, data, small):
    """extension_mix: each query's result equals its oracle SQL on DuckDB,
    compared with tools/check_oracles.py's normalisation, for the results
    the harness lists: the warm-up pass on the small tables, and the first
    timed pass except the queries whose oracles compare every document
    pair. Runs after the harness has exited, so the oracles run
    concurrently."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    oracles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracles)
    dbs = {}
    for pass_, tables in (("small", small), ("timed", data)):
        dbs[pass_] = duckdb.connect()
        for t in gen.TABLES:
            dbs[pass_].execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")

    def check(pass_, name, sql):
        con = dbs[pass_].cursor()
        t0 = time.time()
        try:
            got = con.sql(f"SELECT * FROM '{res['details']['results_dir']}"
                          f"/{pass_}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
            got.columns = [c.lower() for c in got.columns]
            want.columns = [c.lower() for c in want.columns]
            ok = (sorted(got.columns) == sorted(want.columns)
                  and oracles.table_key(got) == oracles.table_key(want))
            return {"ok": ok, "rows": len(got), "s": round(time.time() - t0, 3)}
        except Exception as e:  # a failing oracle is a wrong output
            return {"ok": False, "error": repr(e)}

    todo = [(p, n, q) for p, sqls in res["details"]["oracle_checks"].items()
            for n, q in sqls.items()]
    with concurrent.futures.ThreadPoolExecutor(os.cpu_count()) as pool:
        done = pool.map(lambda t: check(*t), todo)
        return {f"oracle.{p}.{n}": r for (p, n, _), r in zip(todo, done)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources at {ROOT}: run from a checkout of the repo")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    started = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    cp = classpath()
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(a, spec, cp, cores, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, spec, cp, cores, work, started):
    """One harness run in `work`; returns the process exit code."""
    data, small = os.path.join(work, "data"), os.path.join(work, "small")
    tables = {"decode_batch": ["events", "documents"],
              "decode_stream_mixed": ["documents"],
              "extension_mix": list(gen.TABLES)}[a.workload]
    gen.generate(a.seed, MIX_SF if a.workload == "extension_mix" else 0.1,
                 data, tables)
    if a.workload == "extension_mix":
        gen.generate(a.seed, SMALL_SF, small)
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:+UseParallelGC", "-Xms4g", "-Xmx4g",
        f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--small-data", small, "--work", work,
        "--out", out_json, "--cores", str(cores)]
    jvm_log = os.path.join(work, "jvm.log")
    rc = run_bounded(cmd, ROOT, dict(os.environ), JVM_TIMEOUT_S, jvm_log)
    with open(jvm_log, errors="replace") as f:
        jlines = f.read().splitlines()
    for line in jlines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write("\n".join(jlines[-40:]) + "\n")
        log(f"harness JVM failed (exit {rc})")
        return 1
    with open(out_json) as f:
        res = json.load(f)
    checks = dict(res["checks"])
    if a.workload == "decode_batch":
        checks.update(check_batch(res, data))
    if a.workload == "extension_mix":
        checks.update(check_mix(res, data, small))
    correct = all(c["ok"] for c in checks.values())
    for name, c in checks.items():
        if not c["ok"]:
            log(f"CHECK FAILED {name}: {c}")

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            log(f"metric {m['name']} was not measured")
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    line = {"correct": correct, "attempted": max(1, int(res["attempted"])),
            "failed": int(res["failed"]), "metrics": metrics}

    os.makedirs(RESULTS, exist_ok=True)
    record = os.path.join(RESULTS, f"{a.workload}-c{cores}-s{a.seed}-"
                          f"t{a.trace}-{started}-{os.getpid()}.json")
    with open(record, "x") as f:
        json.dump({"result": line, "all_metrics": res["metrics"],
                   "details": {k: v for k, v in res["details"].items()
                               if k != "oracle_checks"},
                   "checks": checks, "seconds": a.seconds}, f, indent=1)
    spans = os.path.join(work, "spans.csv")
    if os.path.exists(spans):
        with open(spans, "rb") as src, \
                gzip.open(record[:-5] + ".spans.csv.gz", "wb") as dst:
            shutil.copyfileobj(src, dst)
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
