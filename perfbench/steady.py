#!/usr/bin/env python3
"""Steadiness tool: run a workload N times and judge the spread, or compare
two sets of runs, against the bounds in BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/steady.py run --workload W [--runs 10] [--first-seed 1]
      [--seconds S] [--trace 0|1] [--save runs.json] [--repo DIR]
  python3 perfbench/steady.py compare A.json B.json
  python3 perfbench/steady.py ab --parent DIR --change DIR --workload W [--runs 10]
      [--save-prefix PATH]

`run` makes N runs with seeds first-seed .. first-seed+N-1 and prints, per
metric, the median, the quartiles (statistics.quantiles(values, n=4)) and
the spread (Q3 - Q1) / median; an end-to-end metric passes when its spread
is within its bound and is "steady" below a third of it. The workload's
own figures from the run's detail line (detail.<name>) are listed too.

`compare` sets the medians of two saved sets side by side. It flags every
end-to-end metric of B worse than A by more than its bound, and every
detail figure of B worse than A by more than the bound of the end-to-end
metric of its kind (latency_p50_ms for a time, ops_per_s for a rate) whose
quartile ranges in A and B do not overlap. So one slower operation kind
shows even where latency_p50_ms averages it away, and a trade-off between
kinds (reads faster, admits slower) shows as the kind that got worse. `ab`
runs a parent checkout and a changed checkout in alternating order (so
drift in the host hits both) and compares them the same way. A run that
fails or reports correct=false stops the tool.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec(repo=ROOT):
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(repo, workload, seed, seconds, trace):
    b = spec(repo)
    cmd = b["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds or b["run_seconds"]), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=repo, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.exit(f"steady: {workload} seed {seed} exited with {res.returncode}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        sys.exit(f"steady: {workload} seed {seed} gave wrong answers: {out}")
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if len(lines) > 1 and lines[-2].startswith('{"detail"'):
        values.update((f"detail.{k}", v) for k, v in json.loads(lines[-2])["detail"].items()
                      if not k.startswith("n.") and k != "ops_failed_frac")
    return values


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(runs, b):
    e2e = {m["name"]: m for m in b["end_to_end"]}
    ok = True
    print(f"{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
    for name in runs[0]:
        med, q1, q3, spread = summary([r[name] for r in runs])
        bound = e2e.get(name, {}).get("bound")
        verdict = ""
        if bound is not None:
            verdict = "steady" if spread < bound / 3 else "ok" if spread <= bound else "TOO WIDE"
            ok &= spread <= bound
        print(f"{name:40} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{'' if bound is None else bound:>6}  {verdict}")
    return ok


def detail_rule(name, bench):
    """(better, bound) of a detail figure: a rate is held to the bound of
    ops_per_s, a time to that of latency_p50_ms."""
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    return ("higher", e2e["ops_per_s"]["bound"]) if name.endswith("per_s") else \
        ("lower", e2e["latency_p50_ms"]["bound"])


def compare(a, b, bench):
    worse = False
    print(f"{'metric':40} {'median A':>12} {'median B':>12} {'change':>8} {'bound':>6}")
    rules = [(m["name"], m["better"], m["bound"], False) for m in bench["end_to_end"]]
    rules += [(k, *detail_rule(k, bench), True) for k in a[0] if k.startswith("detail.")]
    for name, better, bound, detail in rules:
        if name not in a[0] or name not in b[0]:
            continue
        ma, qa1, qa3, _ = summary([r[name] for r in a])
        mb, qb1, qb3, _ = summary([r[name] for r in b])
        change = (mb - ma) / ma if ma else 0.0
        loss, apart = (-change, qb3 < qa1) if better == "higher" else (change, qb1 > qa3)
        # a detail figure rests on few samples per run: it must also leave
        # the quartile range it had before
        bad = loss > bound and (apart or not detail)
        worse |= bad
        print(f"{name:40} {ma:12.5g} {mb:12.5g} {change:+8.3f} {bound:6}  {'WORSE' if bad else ''}")
    return not worse


def load(path):
    with open(path) as fh:
        return json.load(fh)


def save(path, runs):
    if path:
        with open(path, "w") as fh:
            json.dump(runs, fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--save")
    r.add_argument("--repo", default=os.getcwd())
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    x = sub.add_parser("ab")
    x.add_argument("--parent", required=True)
    x.add_argument("--change", required=True)
    x.add_argument("--workload", required=True)
    x.add_argument("--runs", type=int, default=10)
    x.add_argument("--first-seed", type=int, default=1)
    x.add_argument("--save-prefix")
    a = ap.parse_args()

    if a.mode == "run":
        runs = []
        for i in range(a.runs):
            runs.append(run_once(a.repo, a.workload, a.first_seed + i, a.seconds, a.trace))
            print(f"run {i + 1}/{a.runs}: " + " ".join(f"{k}={v:.5g}" for k, v in runs[-1].items()), flush=True)
        save(a.save, runs)
        sys.exit(0 if report(runs, spec(a.repo)) else 1)
    if a.mode == "compare":
        sys.exit(0 if compare(load(a.a), load(a.b), spec()) else 1)
    parent, change = [], []
    for i in range(a.runs):
        seed = a.first_seed + i
        for repo, runs in ((a.parent, parent), (a.change, change)) if i % 2 == 0 else \
                ((a.change, change), (a.parent, parent)):
            runs.append(run_once(repo, a.workload, seed, None, 0))
        print(f"pair {i + 1}/{a.runs} done", flush=True)
    if a.save_prefix:
        save(a.save_prefix + ".parent.json", parent)
        save(a.save_prefix + ".change.json", change)
    print("parent:")
    report(parent, spec(a.change))
    print("change:")
    report(change, spec(a.change))
    sys.exit(0 if compare(parent, change, spec(a.change)) else 1)


if __name__ == "__main__":
    main()
