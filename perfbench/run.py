#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <mare_pipe|deck_serve>
      --seed <n> --seconds <s> --trace <0|1> [--sf <scale>] [--inject-wrong]

Builds the library and the benchmark from source (perfbench/build.py),
generates the seeded inputs (perfbench/gen_data.py), runs the workload's
closed loop in one JVM on local[k] (k = min(4, cores); 2 for mare_pipe)
and checks every answer. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics, or with --trace 1 the per-layer metrics of a
traced run. The line before it carries the workload's own figures
("detail"); a traced run also prints its span summary. Everything it writes
stays under .bench_build/ in the current directory.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import summarize  # noqa: E402

# workload -> (input scale factor, Spark cores at most)
WORKLOADS = {"mare_pipe": (0.1, 2), "deck_serve": (0.002, 4)}
# seconds a run may take after the build (a first run in a checkout builds)
DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def note(msg, since):
    sys.stderr.write(f"perfbench: {msg} ({time.time() - since:.1f} s)\n")


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def inputs(build_dir, workload, seed, sf):
    """Seeded inputs, generated once per (workload, seed, scale)."""
    data = os.path.join(build_dir, "data", f"{workload}-{seed}-{sf}")
    if not os.path.exists(os.path.join(data, "MANIFEST.json")):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), workload, str(seed), str(sf),
                        data], check=True)
    return data


def run_jvm(classes, args, work, timeout):
    jars = glob.glob(os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*.jar"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed-size heap: the full collection before each operation would
    # otherwise shrink it, and the operation would pay to grow it back.
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              "-cp", os.pathsep.join([classes] + sorted(jars)), "perfbench.Main"] + args)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_IP="127.0.0.1")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the whole process group: the JVM and any command it spawned
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    shutil.copy(log_path, os.path.join(work, "..", "..", "last-jvm.log"))
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="input scale factor (default: the workload's)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="self-test: check against a deliberately wrong expected answer")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    build_dir = os.path.join(root, ".bench_build")
    classes = build.build(build_dir)
    note("built", t_start)
    t_built = time.time()
    sf, max_cores = WORKLOADS[a.workload]
    data = inputs(build_dir, a.workload, a.seed, a.sf or sf)
    note("inputs ready", t_start)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        cores = min(max_cores, os.cpu_count() or 1)
        run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--cores", str(cores), "--data", data, "--work", work,
                          "--out", out] + (["--inject-wrong", "1"] if a.inject_wrong else []),
                work, DEADLINE_S - (time.time() - t_built))
        note("workload ran", t_start)
        with open(out) as fh:
            res = json.load(fh)
        failed = res["failed"]
        if os.path.exists(os.path.join(work, "oracle_sql.json")):
            # the deck's oracle check: once per run, outside every timer
            for q, ok, msg in oracle.check(os.path.join(work, "results"), os.path.join(work, "oracle_sql.json"),
                                           data):
                if not ok:
                    sys.stderr.write(f"perfbench: {q} disagrees with its oracle: {msg}\n")
                    failed += res["op_counts"][q]
            note("oracle checked", t_start)
        if a.trace:
            for line in summarize.report(os.path.join(work, "spans.jsonl")):
                print(line)
            for layer, secs in summarize.self_time(os.path.join(work, "spans.jsonl")).items():
                res["metrics"][f"self.{layer}_s"] = {"value": secs, "unit": "s"}
        detail = dict(res["detail"], ops_failed_frac=failed / max(res["attempted"], 1))
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                          "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
