#!/usr/bin/env python3
"""The benchmark's own test, three checks per workload:

1. Repeatability: two traced runs at one seed must report the same
   jobs_per_op and the same count-type per-layer metrics (every
   `*.jobs`, spark.stages_per_op, spark.files_listed_per_op,
   mr.records_mapped).
2. Live checks: a run whose expected answers are deliberately
   corrupted on the benchmark's side (run.py --corrupt 1) must report
   failed ops and exit non-zero.
3. A seed no earlier run used (104729 by default; pass another with
   --fresh-seed once that one has been used) must land within each
   end-to-end metric's bound of the median of this checkout's untraced
   runs of the same source tree at other seeds. When there are fewer
   than three such runs (for example in a fresh checkout), the
   missing ones are made first, at seeds 1, 2, 3.

    python3 perfbench/selftest.py [--fresh-seed 104729]

Exits 1 when any check fails.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
RECORDS = os.path.join(OUT, "records")
COUNTS = ("spark.stages_per_op", "spark.files_listed_per_op",
          "mr.records_mapped")
# the seed of the repeatability and live checks
SEED = 1
BASE_RUNS = 3


def run(spec, workload, seed, trace, corrupt=0):
    """One run: (exit code, last JSON line or None, record path)."""
    r = subprocess.run(spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
        "--corrupt", str(corrupt)], cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    rec = next((os.path.join(ROOT, x.split()[1]) for x in lines
                if x.startswith("record: ")), None)
    if res is None:
        sys.stderr.write(r.stderr[-3000:])
    return r.returncode, res, rec


def repeatability(spec, workload, seed):
    counts = []
    for _ in range(2):
        code, res, path = run(spec, workload, seed, 1)
        if code != 0 or path is None:
            return [f"traced run at seed {seed} failed (exit {code})"]
        rec = json.load(open(path))
        layer = rec["per_layer"]
        c = {k: v for k, v in layer.items()
             if k.endswith(".jobs") or k in COUNTS}
        c["jobs_per_op"] = rec["end_to_end"]["jobs_per_op"]
        counts.append(c)
    a, b = counts
    return [f"{k}: {a.get(k)} vs {b.get(k)}"
            for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)]


def live_checks(spec, workload, seed):
    code, res, _ = run(spec, workload, seed, 0, corrupt=1)
    if res is None:
        return [f"corrupted run printed no result (exit {code})"]
    problems = []
    if code == 0:
        problems.append("corrupted run exited 0")
    if res["failed"] == 0 or res["correct"]:
        problems.append(f"corrupted run reported failed={res['failed']} "
                        f"correct={res['correct']}")
    return problems


def baseline(workload, seed):
    """End-to-end metrics of this checkout's correct untraced runs of
    the built source tree at seeds other than `seed`."""
    source = open(os.path.join(OUT, "classes.stamp")).read()
    base = []
    for path in glob.glob(os.path.join(RECORDS, f"{workload}-s*-t0-*.json")):
        rec = json.load(open(path))
        if (rec["seed"] != seed and rec.get("correct")
                and not rec.get("corrupt")
                and rec.get("source_tree") == source):
            base.append(rec["end_to_end"])
    return base


def fresh_seed(spec, workload, seed):
    base = baseline(workload, seed)
    for s in range(1, BASE_RUNS - len(base) + 1):
        code, _, _ = run(spec, workload, s, 0)
        if code != 0:
            return [f"baseline run at seed {s} failed (exit {code})"]
    base = baseline(workload, seed)
    code, res, _ = run(spec, workload, seed, 0)
    if code != 0 or res is None:
        return [f"seed {seed} failed (exit {code})"]
    problems = []
    for m in spec["end_to_end"]:
        med = statistics.median(b[m["name"]] for b in base)
        v = res["metrics"][m["name"]]["value"]
        worse = (v - med) / med if m["better"] == "lower" else (med - v) / med
        print(f"  {m['name']:<14} {v:<12.5g} vs median {med:<12.5g} of "
              f"{len(base)} runs: {worse:+.3f} worse (bound {m['bound']})")
        if abs(worse) > m["bound"]:
            problems.append(f"{m['name']}: {v:.5g} is {worse:+.1%} off the "
                            f"median {med:.5g}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fresh-seed", type=int, default=104729)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failed = False
    for w in [x["name"] for x in spec["workloads"]]:
        for name, check in (("repeatability", lambda: repeatability(spec, w, SEED)),
                            ("live checks", lambda: live_checks(spec, w, SEED)),
                            (f"fresh seed {args.fresh_seed}",
                             lambda: fresh_seed(spec, w, args.fresh_seed))):
            p = check()
            print(f"{w}: {name} {'ok' if not p else 'FAILED'}", flush=True)
            for x in p:
                print(f"  {x}")
            failed |= bool(p)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
