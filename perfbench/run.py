#!/usr/bin/env python3
"""Benchmark of the import path and a registry query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): import_service, registry_mix.
The first run builds the engine and the benchmark main
with sbt (offline) and caches the classpath under .perfbench/. Each run
gets a fresh directory under .perfbench/runs/ for its Spark warehouse,
scratch space, mmj files, graft-docs store and logs, and removes it at
the end.

The benchmark main (graft.perfbench.Main) times the workload and checks
what it can see from inside the JVM; this script then checks the outputs
against the engine's DuckDB oracle SQL, and prints one context line and,
last, one result line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
WORKLOADS = ("import_service", "registry_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "2g"
# The Spark session (local[N], N shuffle partitions) gets half the
# host's cores. The JIT compiles for more than a core's worth of CPU
# time through the whole run; with all cores given to Spark, the JIT
# and other tenants of a shared host queue behind the tasks, and how
# long they do so moves whole runs. The JVM itself still sees every
# core, so the JIT keeps the compiler threads it has on this host.
HOST_NPROC = os.cpu_count() or 1
CORES = max(1, HOST_NPROC // 2)
T_START = time.time()


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: the engine's and the benchmark's."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p),
                                          recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def classpath():
    """Build once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) in this checkout")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cp_file = os.path.join(STATE, "build", f"classpath-{h.hexdigest()[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    # one build's classes live in target/ at a time, so only the latest
    # source state may keep its classpath file
    for old in glob.glob(os.path.join(STATE, "build", "classpath-*")):
        os.remove(old)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build", "sbt.log")
    with open(log, "w") as out:
        code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "compile", "export Runtime/fullClasspath"],
                        cwd=HERE, env=env, stdout=out, stderr=out,
                        timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if not l.startswith("[")
           and os.pathsep in l and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        die(f"build failed (exit {code}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing it started outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(cp, args, run_dir):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
              "java.io", "java.net", "java.nio", "java.util",
              "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action",
              "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + opens +
           [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES),
            "--data", DATA, "--out", run_dir])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        code = run_proc(cmd, cwd=run_dir, stdout=out, stderr=out,
                        timeout=RUN_TIMEOUT_S - (time.time() - T_START))
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        die(f"benchmark JVM failed (exit {code})", 3)
    with open(result) as fh:
        return json.load(fh)


# ---- DuckDB oracle checks -------------------------------------------------

def check_data():
    """The inputs must be the fixed test data, byte for byte."""
    try:
        with open(os.path.join(DATA, "SHA256SUMS")) as fh:
            sums = [l.split() for l in fh if l.strip()]
    except OSError as e:
        die(f"cannot read the data checksums: {e}")
    for digest, name in sums:
        try:
            with open(os.path.join(DATA, name), "rb") as fh:
                ok = hashlib.sha256(fh.read()).hexdigest() == digest
        except OSError:
            ok = False
        if not ok:
            die(f"input data {name} is missing or altered")


def duck(sf):
    import duckdb
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for f in sorted(glob.glob(os.path.join(DATA, sf, "*.parquet"))):
        table = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{f}'")
    return con


def check_payload_counts(res, sf, failures):
    """Entity array sizes per organization against the payload_import
    oracle. A wrong organization fails every reply that carried it."""
    sql = res["checks"]["oracle_sql"]["payload_import"]
    con = duck(sf)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    oracle = {}
    for row in cur.fetchall():
        r = dict(zip(cols, row))
        oracle[r["organization_id"]] = {
            e: r[f"n_{e}"] for e in ("employees", "members", "physicians",
                                     "products", "settings", "vendors")}
    n = 0
    for org, got in res["checks"]["payload_counts"].items():
        if oracle.get(org) != got["counts"]:
            failures.append(f"{org}: entity counts {got['counts']} != "
                            f"oracle {oracle.get(org)}")
            n += got["replies"]
    return n


def fetch(con, sql):
    """Rows of `sql` normalized as the engine's own oracle comparison
    (tools/check.py) does: columns sorted by name, rows sorted."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    from check import norm_rows
    cur = con.execute(sql)
    return norm_rows([d[0] for d in cur.description], cur.fetchall())


def check_registry(res, sf, failures):
    """Each query's output against its DuckDB oracle, compared as sorted
    rows of sorted columns. A digest of an output that once matched the
    oracle stands in for the oracle on later runs."""
    cache_file = os.path.join(STATE, "verified.json")
    try:
        with open(cache_file) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    with open(os.path.join(DATA, "SHA256SUMS"), "rb") as fh:
        data_id = hashlib.sha256(fh.read()).hexdigest()
    con = duck(sf)
    n = 0
    for name, sql in sorted(res["checks"]["oracle_sql"].items()):
        out = os.path.join(res["checks"]["registry_out"], name)
        try:
            got = fetch(con, f"SELECT * FROM '{out}/*.parquet'")
        except Exception as e:  # a missing dump is already a JVM failure
            failures.append(f"{name}: output unreadable: {e}")
            n += 1
            continue
        digest = hashlib.sha256(repr(got).encode()).hexdigest()
        key = hashlib.sha256(f"{name}\0{sf}\0{sql}\0{data_id}".encode()
                             ).hexdigest()
        if cache.get(key) == digest:
            continue
        want = fetch(con, sql)
        if got == want:
            cache[key] = digest
        else:
            failures.append(f"{name}: output differs from its DuckDB oracle "
                            f"({len(got[1])} vs {len(want[1])} rows)")
            # a wrong output is wrong in every pass that ran the query
            ctx = res["context"]
            n += 1 + ctx["warm_up_passes"] + ctx["warm_passes"]
    os.makedirs(STATE, exist_ok=True)
    with open(cache_file, "w") as fh:
        json.dump(cache, fh, indent=0, sort_keys=True)
    return n


def report(args, bench, res):
    """Run the oracle checks and print the context and result lines."""
    failures = list(res["failures"])
    failed = res["failed"]
    sf = res["context"]["sf"]
    if args.workload == "registry_mix":
        failed += check_registry(res, sf, failures)
    else:
        failed += check_payload_counts(res, sf, failures)
    failed = min(failed, res["attempted"])

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        die(f"the run did not measure {missing}", 3)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]],
                           "unit": m["unit"]} for m in wanted}
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    res["context"]["nproc"] = HOST_NPROC
    print(json.dumps({"context": res["context"]}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")
    check_data()

    cp = classpath()
    global T_START
    T_START = time.time()  # the per-run limit starts after the build
    run_dir = os.path.join(
        STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        report(args, bench, run_jvm(cp, args, run_dir))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
