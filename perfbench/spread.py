#!/usr/bin/env python3
"""Repeat a workload over several seeds and judge its steadiness.

    python3 perfbench/spread.py --workload live --seeds 1-10 [--baseline perfbench/baseline.json]

Runs `perfbench/run.py` once per seed with BENCHMARK.json's run_seconds,
then prints, for every end-to-end metric, the median, the quartiles
(Python's statistics.quantiles, n=4) and their distance as a share of the
median, next to the metric's bound; a spread above a third of its bound is
flagged, and with ten or more seeds a spread above the bound fails. With --baseline, each median is also compared with the recorded
baseline median of that workload: on a seed set held out from the one
that made the baseline, no median may be worse by more than its bound
(the rule that judges a change against its parent). Exits 1 when a
check fails. With --save, the medians and quartiles are written to that file
under the workload's name (this is how baseline.json is made).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit("seed %d failed (%d): %s" % (seed, out.returncode, out.stderr[-2000:]))
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    ap.add_argument("--baseline")
    ap.add_argument("--save")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    higher = {m["name"] for m in bench["end_to_end"] if m["better"] == "higher"}
    values = {name: [] for name in bounds}
    attempted = failed = 0
    ok = True
    for s in seeds(a.seeds):
        r = run(a.workload, s, bench["run_seconds"])
        ok &= r["correct"]
        attempted += r["attempted"]
        failed += r["failed"]
        for name in bounds:
            values[name].append(r["metrics"][name]["value"])
        print("seed %d: %s" % (s, " ".join("%s=%.4g" % (n, v[-1]) for n, v in values.items())),
              flush=True)
    print("correct=%s attempted=%d failed=%d" % (ok, attempted, failed))
    base = {}
    if a.baseline:
        with open(a.baseline) as fh:
            base = json.load(fh)[a.workload]
    summary = {}
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med
        flag = "" if share <= bounds[name] / 3 else "  <-- above a third of the bound"
        line = "%-20s median %.5g  q1 %.5g  q3 %.5g  spread %.3f (bound %.2f)%s" % (
            name, med, q1, q3, share, bounds[name], flag)
        # quartiles of fewer than ten runs say little, so only judge spread
        # on a full set
        if share > bounds[name] and len(vs) >= 10:
            ok = False
        if name in base:
            change = (med - base[name]["median"]) / base[name]["median"]
            line += "  vs baseline %.5g: %+.3f" % (base[name]["median"], change)
            worse = -change if name in higher else change
            if worse > bounds[name]:
                ok = False
                line += "  <-- worse by more than the bound"
            elif -worse > bounds[name]:
                line += "  (better by more than the bound)"
        print(line)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "n": len(vs)}
    if a.save:
        saved = {}
        if os.path.exists(a.save):
            with open(a.save) as fh:
                saved = json.load(fh)
        saved[a.workload] = summary
        with open(a.save, "w") as fh:
            json.dump(saved, fh, indent=1, sort_keys=True)
            fh.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
