#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness together with the engine
sources (first run only), generates the workload's inputs from the seed,
runs set-up, warm-up and the measured window in one JVM, checks every
output outside the timed window, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics; `--trace 1` is the separate
traced run and prints the per-layer metrics (tracing overhead included).
The full run record, with its validity fields, is the line before it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CACHE = os.path.join(ROOT, ".bench_cache")
# a run must end within 180 s after the build; the checks after the JVM
# take a few seconds, so the JVM gets what is left of this
JVM_DEADLINE_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile the harness and the engine once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("run from the repository root: src/main/scala, the engine sources, is missing")
    if not shutil.which("sbt"):
        die("sbt is not on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            die(f"the JVM did not finish within {budget_s:.0f}s")
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        die(f"the JVM exited with {p.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["rag_ingest", "curate", "crawl_stream"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    cp = classpath()
    start = time.time()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    truth = gen.generate(a.workload, a.seed, a.seconds, in_dir)
    result = os.path.join(work, "record.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", a.trace, "--input", in_dir, "--work", work, "--result", result],
            work, JVM_DEADLINE_S - (time.time() - start))
    with open(result) as f:
        rec = json.load(f)

    ok, counters = checks.run(rec, truth, CACHE, in_dir)
    n_plain = len(rec["ops"])
    valid = stats.validity(rec, a.trace == "1")
    if a.trace == "1":
        # the spans outlive the run's scratch directory
        with open(f"{work}-spans.json", "w") as f:
            json.dump(rec["trace"]["spans"], f)
        metrics = stats.per_layer(rec, truth, counters)
        units = {m["name"]: m["unit"] for m in stats.benchmark_spec()["per_layer"]}
    else:
        metrics = stats.end_to_end(rec, ok[:n_plain])
        units = {m["name"]: m["unit"] for m in stats.benchmark_spec()["end_to_end"]}
    record = {"record": {k: rec[k] for k in ("workload", "seed", "seconds", "session_s", "prep_s",
                                             "warmup_s", "measure_s", "cpu_s")},
              "validity": valid, "check_counters": counters}
    print(json.dumps(record, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": all(ok),
        "attempted": len(ok),
        "failed": sum(1 for x in ok if not x),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
