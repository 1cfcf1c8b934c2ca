#!/usr/bin/env python3
"""Run one workload of the ingest benchmark.

    python3 perfbench/run.py --workload backfill|live --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse that
build while no source file has changed. Each run starts a fresh JVM with a
fresh work directory and a fixed heap, and the JVM prints the result JSON
as its last stdout line. The full artifact (host, config, inputs, sample
counts, spans, every metric) is written under .bench_build/perfbench/.
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
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, n) for n in ("build.sbt", "jvm.options")]
    files.append(os.path.join(HERE, "project", "build.properties"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Build with sbt unless the last build saw exactly these sources."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    classpath = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(classpath):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return classpath
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "stageClasspath"],
                                  cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log, 3)
    if done.returncode != 0 or not os.path.exists(classpath):
        fail("build failed; see " + log, 3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath


def jvm_options():
    with open(os.path.join(HERE, "jvm.options")) as fh:
        return [l.strip() for l in fh if l.strip() and not l.startswith("#")]


def note_overhead(artifact, workload, seed):
    """Record in a traced artifact how far tracing moved the end-to-end
    numbers, against the untraced run of the same workload and seed (run
    it just before, so that both see the same host)."""
    untraced = os.path.join(OUT, "%s-seed%d-trace0.json" % (workload, seed))
    if not os.path.exists(untraced):
        return
    with open(untraced) as fh:
        base = json.load(fh)["metrics"]
    with open(artifact) as fh:
        traced = json.load(fh)
    overhead = {}
    for name in ("rows_per_s", "freshness_p50_s"):
        t = traced["metrics"]["traced." + name]["value"]
        overhead[name] = {"untraced": base[name]["value"], "traced": t,
                          "change": t / base[name]["value"] - 1}
    traced["tracing_overhead"] = overhead
    with open(artifact, "w") as fh:
        json.dump(traced, fh, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (no src/main/scala/graft here)", 2)
    os.makedirs(OUT, exist_ok=True)
    with open(build()) as fh:
        classpath = fh.read().strip()

    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    artifact = os.path.join(OUT, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
    cmd = (["java"] + jvm_options() + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--artifact", artifact])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S, 4)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail("workload JVM exited with %d" % proc.returncode, 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 6)
    if a.trace:
        note_overhead(artifact, a.workload, a.seed)
    for l in lines[:-1]:
        print(l)
    print("run wall %.1f s; artifact %s" % (time.time() - t0, os.path.relpath(artifact, ROOT)))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
