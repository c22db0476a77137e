#!/usr/bin/env python3
"""lakebench: end-to-end benchmark of the point-cloud lakehouse.

Usage (from the root of a checkout):
    python3 lakebench/run.py --workload pc_query --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark with sbt when their sources changed,
runs one workload in a fresh JVM with a fixed heap, checks every answer,
and prints one JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of BENCHMARK.json. The run's environment record
(load average, CPU and I/O canaries, input checksum) goes to stderr.
"""
import argparse
import ast
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "lakebench.classpath")
STAMP = os.path.join(TARGET, "lakebench.stamp")
WORKLOADS = ("pc_query", "pc_ingest")
HEAP = "3g"
# Two task threads: the operations are bound by per-job driver latency, so a
# wider pool barely shortens a pass, while on a shared 4-core machine it makes
# every pass wait for cores other processes hold (quartile spread of pass_s
# over seeds: 22% with 4 threads, 3% with 2).
TASK_THREADS = 2
# engine_suite input: the scale-0.01 star-schema fixture the query registry
# is verified on (the traced runs' engine phase reads nothing else)
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
UNITS = {"setup_s": "s", "build_s": "s", "pass_s": "s", "op_p50_ms": "ms",
         "stored_bytes_ratio": "ratio",
         "peak_heap_mb": "MB", "ok_fraction": "fraction"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print("lakebench:", *a, file=sys.stderr, flush=True)


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_us"):
        return "us"
    if name.endswith("points_per_s"):
        return "points/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac"):
        return "fraction"
    if "bytes" in name:
        return "bytes"
    if name == "env.loadavg_start":
        return "load"
    return "count"


def sources_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        for pat in ("build.sbt", "project/*.sbt", "project/build.properties",
                    "src/main/**/*"):
            files += glob.glob(os.path.join(base, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles program + benchmark unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and \
            open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building program and benchmark with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "lakebench/compile",
                        "export lakebench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("lakebench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def oracle_failures(results):
    """Runs scripts/compare.py over the engine_suite results (the queries
    the pass wrote, with their oracle SQL beside them) on the fixture;
    returns how many it compared and the names that differ from the DuckDB
    oracle."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "compare.py"),
                        results, FIXTURE], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=30)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    if not last[0].startswith("FAILS:"):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("lakebench: scripts/compare.py did not finish")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
    bad = ast.literal_eval(last[0][len("FAILS:"):].strip())
    ok = sum(" OK rows " in line for line in p.stdout.splitlines())
    return ok + len(bad), bad


def main():
    entry = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("lakebench: no program sources next to the "
                         "benchmark (expected build.sbt and src/main/scala)")

    cp = build()
    entry = max(entry, time.time())  # set-up starts once the build is done
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, d))
    try:
        result = os.path.join(work, "result.json")
        cpus = str(min(os.cpu_count() or 1, TASK_THREADS))
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/spark",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.lakebench.Main", a.workload, str(a.seed),
                str(a.seconds), str(a.trace), work, FIXTURE, result]
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as out:
            p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               env=env, cwd=work, timeout=170)
        if p.returncode != 0 or not os.path.exists(result):
            sys.stderr.write(open(jvm_log).read()[-6000:])
            raise SystemExit(f"lakebench: JVM exited with {p.returncode}")
        r = json.load(open(result))

        attempted, failed = r["attempted"], r["failed"]
        errors = list(r["errors"])
        if a.trace:
            # the JVM counted these queries as attempted; a mismatch is a
            # failure the JVM could not see
            compared, bad = oracle_failures(os.path.join(work, "engine_suite", "results"))
            failed += len(bad)
            errors += [f"{n}: differs from the DuckDB oracle" for n in bad]

        setup_s = (r["first_op_epoch_ms"] / 1e3 - entry) - r["build_s"] - \
            r["warm_s"]
        if a.trace:
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in sorted(r["layer"].items())}
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(HERE, "work", f"spans-{a.workload}.json"))
        else:
            vals = dict(r["e2e"], setup_s=setup_s,
                        ok_fraction=1.0 - failed / attempted)
            metrics = {k: {"value": vals[k], "unit": u} for k, u in UNITS.items()}
        log(json.dumps({"env": r["env"], "input_checksum": r["input_checksum"],
                        "oracle_compared": compared if a.trace else 0,
                        "op_samples": r["op_samples"], "passes": r["passes"],
                        "pass_s": r["e2e"]["pass_s"], "errors": errors[:20]}))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        if not correct:
            log("WRONG ANSWERS:", *errors[:20])
            sys.exit(3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
