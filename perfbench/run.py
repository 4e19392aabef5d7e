#!/usr/bin/env python3
"""Benchmark of the graft B->S->C pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload full|sparse|delta --seed N \
        --seconds S --trace 0|1

Builds the library and the harness from source (once per source state,
with sbt, into .bench_build/), then runs one JVM on local[nproc] that
sets up the workload from the seed, calls the pipeline back to back for
about S seconds, checks the outputs and prints a report. The last line
of stdout is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
HEAP = "4g"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in (LIB_SRC, BENCH_SRC):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Compile/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (log: {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    # results and recorded assignment digests belong to the previous sources
    shutil.rmtree(os.path.join(BUILD, "results"), ignore_errors=True)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def check_digest(rec, path, key):
    """Repeated runs of one seed must give the same cluster assignment:
    compare with the digest an earlier run of this checkout recorded."""
    digest = rec["env"].get("digest")
    if digest is None:
        return
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    if key not in known:
        known[key] = digest
        with open(path, "w") as fh:
            json.dump(known, fh, indent=1, sort_keys=True)
        print(f"  check PASS: assignment digest recorded for {key} ({digest}, first run of this seed)")
    elif known[key] == digest:
        print(f"  check PASS: assignment digest equals the earlier runs of {key} ({digest})")
    else:
        print(f"  check FAIL: assignment digest equals the earlier runs of {key} ({digest} vs {known[key]})")
        rec["result"]["correct"] = False


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["full", "sparse", "delta"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "pipeline", "Pipeline.scala")):
        fail("library sources not found under src/main/scala; run from a full checkout")
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    results = os.path.join(BUILD, "results")
    logs = os.path.join(BUILD, "logs")
    tmp = os.path.join(BUILD, "tmp")
    for d in (results, logs, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--out", out]
    env = dict(os.environ)
    env.update({"SPARK_DRIVER_MEM": HEAP, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    # the one environment knob the pipeline reads; the benchmark pins its default
    env.pop("SPARK_GRAFT_SCORE_CONC", None)

    log_path = os.path.join(logs, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    sys.stdout.write(stdout)
    if not os.path.exists(out):
        fail(f"run failed with code {proc.returncode} (log: {log_path})")
    with open(out) as fh:
        rec = json.load(fh)
    check_digest(rec, os.path.join(results, "digests.json"), f"{a.workload}/{a.seed}")
    untraced = os.path.join(results, f"{a.workload}-s{a.seed}-t0.json")
    if a.trace == "1" and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["result"]["metrics"].get("e2e_s", {}).get("value")
        traced = rec["result"]["metrics"].get("trace.e2e_s", {}).get("value")
        if base and traced:
            print(f"  tracing overhead: {traced - base:+.3f} s e2e against the untraced run of seed {a.seed}")
    print(json.dumps(rec["result"]))
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and rec["result"]["correct"] else 1)


if __name__ == "__main__":
    main()
