#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload store --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark (perfbench/build.py) and generates the input tables; later
runs reuse both until a source file changes. The JVM's log goes to
stderr. stdout gets one line per metric (name, value, unit), then, as
its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 its per_layer metrics, from a run of the same shape
whose timed loop is traced (each cycle is also measured untraced, from
the same state, for trace.overhead). Every run leaves its record (ops, counters,
host noise, and in traced runs the spans and jobs) under
perfbench/out/records/. --corrupt 1 makes every expected answer wrong
on the benchmark's side: the run must then report failed ops.

Exits 1 when any operation failed or returned a wrong answer, 2 when
the program or the benchmark cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    declared = spec["per_layer" if args.trace else "end_to_end"]

    jar = build.build()
    rec = run_jvm(jar, args)
    record_path = rec.pop("path")
    values = rec["per_layer" if args.trace else "end_to_end"]
    rec["reported"] = {m["name"]: values.get(m["name"], 0.0) for m in declared}
    json.dump(rec, open(record_path, "w"), indent=1)

    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            # a per-layer metric of a layer this workload does not use
            if not args.trace:
                fail(f"the run did not produce metric {m['name']}")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<40} {v:>16.6g} {m['unit']}")
    for p in rec["problems"]:
        print(f"WRONG: {p}", file=sys.stderr)
    print(f"record: {os.path.relpath(record_path, ROOT)}  "
          f"cycles={rec['cycles']}  ops={rec['attempted']}  "
          f"load={rec['load_avg_start']}->{rec['load_avg_end']}  "
          f"steal={rec['cpu_steal_frac']:.3f}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] and rec["failed"] == 0 else 1)


def run_jvm(jar, args):
    """One run of the benchmark JVM; returns its record (with its
    "path" under perfbench/out/records/)."""
    out = build.build_dir()
    source = open(os.path.join(out, "classes.stamp")).read()
    program = open(os.path.join(out, "program.stamp")).read()
    work = os.path.join(out, "work", f"{args.workload}-{os.getpid()}")
    records = os.path.join(out, "records")
    record_path = os.path.join(records, f"{args.workload}-s{args.seed}-"
                               f"t{args.trace}-{time.time_ns()}.json")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), os.path.join(out, "data"),
              records):
        os.makedirs(d, exist_ok=True)
    # A class-data sharing archive of the classes a run of the workload
    # loads: the first run of a workload with this build writes it when
    # its JVM exits; later runs map it, which takes some 5 s of class
    # loading off the JVM start and the set-up.
    cds = os.path.join(out, "cds", f"{source[:16]}-{args.workload}.jsa")
    os.makedirs(os.path.dirname(cds), exist_ok=True)
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", share,
            "-Xlog:disable", "-Xlog:all=error:stderr",
            f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([jar,
                                      os.path.join(build.spark_jars(), "*")]),
              "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--corrupt", str(args.corrupt),
              "--work", work, "--data", os.path.join(out, "data"),
              "--source", program[:16], "--out", record_path])
    jvm = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)

    def stop(signum, frame):
        raise KeyboardInterrupt
    signal.signal(signal.SIGTERM, stop)
    try:
        code = jvm.wait(timeout=JVM_TIMEOUT_S)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        code = None
    finally:
        if jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"the run was stopped or did not finish within {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(record_path):
        fail(f"the benchmark JVM exited with {code}")
    rec = json.load(open(record_path))
    rec["source_tree"] = source
    rec["git_commit"] = git_commit()
    rec["corrupt"] = bool(args.corrupt)
    rec["path"] = record_path
    return rec


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
