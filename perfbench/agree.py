#!/usr/bin/env python3
"""Agreement check of the benchmark: do two sets of runs of the same
code agree within the benchmark's own bounds?

    python3 perfbench/agree.py --seeds 101-110

For each seed, every workload of BENCHMARK.json runs twice, untraced:
once for set A and once for set B, interleaved, with the order of the
two alternating from seed to seed. For each workload and end-to-end
metric the tool prints each set's median and quartiles, its spread
(quartile distance ÷ median) as a share of the metric's bound, and how
far set B's median is from set A's, also as a share of the bound. It
exits 1 when a run fails, when a spread exceeds its bound, or when the
two medians differ by more than the bound in either direction. Each
run's output is kept under perfbench/out/agree/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "agree")


def seeds_of(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run(spec, workload, seed, tag):
    r = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", str(seed),
                           "--seconds", str(spec["run_seconds"]),
                           "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    base = os.path.join(OUT, f"{workload}-{tag}-{seed}")
    with open(base + ".out", "w") as fh:
        fh.write(r.stdout)
    with open(base + ".err", "w") as fh:
        fh.write(r.stderr)
    return r.returncode


def result(path):
    lines = open(path).read().strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        return None
    res = json.loads(lines[-1])
    return res if res["correct"] and res["failed"] == 0 else None


def report(spec, workloads):
    ok = True
    for w in workloads:
        sets = {}
        for tag in ("A", "B"):
            vals = {m["name"]: [] for m in spec["end_to_end"]}
            for name in sorted(os.listdir(OUT)):
                if name.startswith(f"{w}-{tag}-") and name.endswith(".out"):
                    res = result(os.path.join(OUT, name))
                    if res is None:
                        print(f"{w} {name}: FAILED")
                        ok = False
                        continue
                    for k, v in res["metrics"].items():
                        vals[k].append(v["value"])
            sets[tag] = vals
        n = (len(next(iter(sets["A"].values()), [])),
             len(next(iter(sets["B"].values()), [])))
        print(f"{w}: {n[0]} runs in set A, {n[1]} in set B")
        if min(n) < 2:
            ok = False
            continue
        print(f"  {'metric':<14} {'set':>3} {'median':>11} {'q1':>11} "
              f"{'q3':>11} {'spread/bound':>13}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = {}
            for tag in ("A", "B"):
                vs = sets[tag][name]
                q1, med, q3 = statistics.quantiles(vs, n=4)
                meds[tag] = statistics.median(vs)
                s = spread(vs) / bound
                flag = ""
                if s > 1:
                    flag = "  OVER"
                    ok = False
                elif s > 1 / 3:
                    flag = "  (over a third)"
                print(f"  {name:<14} {tag:>3} {meds[tag]:>11.5g} {q1:>11.5g} "
                      f"{q3:>11.5g} {s:>13.3f}{flag}")
            a, b = meds["A"], meds["B"]
            diff = (b - a) / a
            flag = "  OVER" if abs(diff) > bound else ""
            ok &= abs(diff) <= bound
            print(f"  {name:<14} B vs A: {diff:+.4f} "
                  f"({abs(diff) / bound:.3f} of the bound){flag}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    for i, seed in enumerate(seeds_of(args.seeds)):
        for w in workloads:
            for tag in (("A", "B") if i % 2 == 0 else ("B", "A")):
                code = run(spec, w, seed, tag)
                print(f"{w} seed {seed} set {tag}: exit {code}", flush=True)
    sys.exit(0 if report(spec, workloads) else 1)


if __name__ == "__main__":
    main()
