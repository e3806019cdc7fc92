#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about five minutes).

Usage (from the repository root): python3 perfbench/selftest.py [workload ...]

For each workload: a short untraced run must be correct and print every
end-to-end metric of BENCHMARK.json; a short traced run must be correct and
print every per-layer metric; a run checked against a deliberately wrong
expected answer must report failed operations (ops_failed_frac > 0).
Exits non-zero on the first broken expectation.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace, wrong):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    res = subprocess.run(cmd + (["--inject-wrong"] if wrong else []), cwd=ROOT, stdout=subprocess.PIPE,
                         text=True)
    if res.returncode != 0:
        sys.exit(f"selftest: {workload} trace={trace} wrong={wrong} exited with {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main(workloads):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in workloads or [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w, trace, False)
            missing = [m["name"] for m in bench[key] if m["name"] not in out["metrics"]]
            if missing or not out["correct"] or out["failed"]:
                sys.exit(f"selftest: {w} trace={trace}: correct={out['correct']} failed={out['failed']} "
                         f"missing={missing}")
            print(f"selftest: {w} trace={trace}: {out['attempted']} ops correct, "
                  f"{len(out['metrics'])} metrics", flush=True)
        out = run(w, 0, True)
        if out["correct"] or out["failed"] == 0:
            sys.exit(f"selftest: {w}: a wrong expected answer went unnoticed: {out}")
        print(f"selftest: {w}: wrong expected answer caught "
              f"(ops_failed_frac {out['failed'] / out['attempted']:.3f})", flush=True)
    print("selftest: ok")


if __name__ == "__main__":
    main(sys.argv[1:])
