#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg --seed 1 --seconds 6 --trace 0

The first run in a checkout builds the program and the benchmark with sbt
(offline) and records the java command line in perfbench/target/launch.txt;
later runs rebuild only when a source file is newer than that file. The run
itself is one JVM (perfbench.Main) at local[<cores>] with a fixed 3 GiB heap. Its last stdout line
is checked against BENCHMARK.json and printed as the last line here:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 only when that line was printed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]
# keeps the JVM's files inside the run's work directory: no perf data
# file in the system temp directory, and Spark's local dirs (which default
# to java.io.tmpdir) under the work directory
NO_PERF_DATA = "-XX:-UsePerfData"


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def parse_result(line, spec, trace):
    """Parses and checks a result line; returns the parsed object.

    Raises ValueError unless the line is one JSON object with exactly the
    keys correct, attempted, failed and metrics, whose metrics are exactly
    the spec's per_layer (trace) or end_to_end (no trace) metrics, each a
    finite number with the spec's unit."""
    obj = json.loads(line)
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys must be correct, attempted, failed, metrics")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = obj["metrics"]
    if not isinstance(got, dict) or set(got) != set(want):
        missing = sorted(set(want) - set(got or {}))
        extra = sorted(set(got or {}) - set(want))
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")
    for name, m in got.items():
        if not isinstance(m, dict) or set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} must have exactly value and unit")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or v != v or v in (float("inf"), float("-inf")):
            raise ValueError(f"metric {name} value must be a finite number")
        if m["unit"] != want[name]:
            raise ValueError(f"metric {name} unit {m['unit']} != {want[name]}")
    return obj


def sources(root):
    """Files whose change requires a rebuild."""
    out = [os.path.join(root, p) for p in ("build.sbt", "project/build.properties",
                                            f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties")]
    for d in ("src/main", f"{BENCH}/src/main"):
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files]
    return [p for p in out if os.path.isfile(p)]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, timeout, stdout, stderr, env=None):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns (exit code or None on timeout, captured stdout or None)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


def build(root, launch):
    src = sources(root)
    if os.path.isfile(launch) and all(os.path.getmtime(p) <= os.path.getmtime(launch) for p in src):
        return True
    if shutil.which("sbt") is None:
        log("sbt is not on PATH")
        return False
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    build_log = os.path.join(root, BUILD_DIR, "build.log")
    log(f"building with sbt (log: {build_log})")
    t0 = time.time()
    with open(build_log, "w") as f:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                              os.path.join(root, BENCH), BUILD_TIMEOUT_S, f, subprocess.STDOUT,
                              env=sbt_env())
    if code != 0 or not os.path.isfile(launch):
        log(f"build failed (exit {code}); see {build_log}")
        return False
    log(f"built in {time.time() - t0:.0f} s")
    return True


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    missing = [p for p in ("build.sbt", "src/main/scala", f"{BENCH}/build.sbt", "BENCHMARK.json")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not the root of a repository checkout: missing {missing}")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload}")
        return 2

    launch = os.path.join(root, BENCH, "target", "launch.txt")
    if not build(root, launch):
        return 1
    with open(launch) as f:
        jvm = [line for line in f.read().split("\n") if line]
    cp = jvm.index("-cp")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, BUILD_DIR, "work", tag)
    logs = os.path.join(root, BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm[:cp] + HEAP + [NO_PERF_DATA, f"-Djava.io.tmpdir={tmp}"] + jvm[cp:] +
           ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-dir", os.path.join(root, BUILD_DIR, "traces"),
            "--bench-dir", os.path.join(root, BENCH), "--spec", spec_path])
    run_log = os.path.join(logs, f"{tag}.log")
    try:
        with open(run_log, "w") as err:
            code, out = run_bounded(cmd, root, RUN_TIMEOUT_S, subprocess.PIPE, err)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s; log: {run_log}")
        return 1
    lines = [l for l in out.decode("utf-8", "replace").split("\n") if l.strip()]
    if code != 0 or not lines:
        log(f"run failed (exit {code}); log: {run_log}")
        with open(run_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    try:
        parse_result(lines[-1], spec, args.trace == 1)
    except ValueError as e:
        log(f"bad result line: {e}")
        return 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
