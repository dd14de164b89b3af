#!/usr/bin/env python3
"""Repository benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

It builds the benchmark (perfbench/build.sbt: the repository's main sources
plus perfbench/src) once per source state, writes the seeded input under
perfbench/work/, runs one benchmark JVM, checks the outputs against
perfbench/pins.json and prints one JSON result as the last stdout line.
The exit code is 0 when every check passes, 1 when a check fails, 2 on a
usage or build error and 3 when the run does not finish within its time
limit: 180 s per invocation, or 900 s when it also compiles.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 180
BUILD_RUN_LIMIT_S = 900
MARGIN_S = 8
STARTED = time.monotonic()
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles once per source state; returns (runtime classpath, whether
    this call compiled)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a checkout: build.sbt and src/main/scala/graft are missing")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(TARGET, "stamp"), os.path.join(TARGET, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s:
            if s.read() == h.hexdigest():
                with open(cp_file) as c:
                    return c.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    budget = BUILD_RUN_LIMIT_S - MARGIN_S - (time.monotonic() - STARTED)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=budget)
    except subprocess.TimeoutExpired:
        die(f"TIMEOUT: the build was still running after {budget:.0f} s", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as c:
        c.write(cp)
    with open(stamp, "w") as s:
        s.write(h.hexdigest())
    return cp, True


def run_jvm(cp, workload, seed, seconds, trace, input_dir, work, limit_s):
    """Runs the benchmark JVM; it is stopped when the invocation would
    otherwise outlive `limit_s`."""
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    cmd = [java, *[x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--input", input_dir, "--work", work,
           "--cpus", str(len(os.sched_getaffinity(0))), "--out", out]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=lf, stderr=subprocess.STDOUT)
        budget = limit_s - MARGIN_S - (time.monotonic() - STARTED)
        try:
            rc = proc.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"TIMEOUT: the benchmark JVM was still running after {budget:.0f} s; "
                f"the run must end within {limit_s} s. This is a time-limit failure, "
                "not a failed correctness check.", 3)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            tail = [l for l in lf.read().splitlines() if " INFO " not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"benchmark JVM failed ({rc})", 1)
    with open(out) as f:
        return json.load(f)


def prepare(workload, seed):
    """Fresh work directory and seeded input; returns (work, input_dir)."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    if workload == "corpus_build":
        gen.corpus(seed, input_dir, len(os.sched_getaffinity(0)))
    else:
        gen.single(input_dir)
    return work, input_dir


def checks(workload, res, pins):
    """Names of the failed correctness checks (empty when all pass)."""
    bad = [f"op failed: {e}" for e in res["errors"]]
    expected = dict(pins["consumers"], chunks=pins["chunks"])
    bad += [f"{q} digest {d} != {expected.get(q)}" for q, d in res["digests"] if d != expected.get(q)]
    if workload == "corpus_build":
        bad += [f"report {r} != {pins['report']}" for r in res["reports"] if r != pins["report"]]
        if not any(q == "chunks" for q, _ in res["digests"]):
            bad.append("chunks digest missing")
    if res["replay_counts"] and res["replay_counts"] != pins["report"]:
        bad.append(f"stage replay counts {res['replay_counts']} != {pins['report']}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found: run from the root of the checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    cp, compiled = build()
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    work, inp = prepare(a.workload, a.seed)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, inp, work,
                  BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S)
    bad = checks(a.workload, res, pins)
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = res["metrics"].get(m["name"], {}).get("value")
        if v is None:
            bad.append(f"metric {m['name']} missing")
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for b in bad:
        print(f"perfbench: CHECK FAILED: {b}", file=sys.stderr)
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
