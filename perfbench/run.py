#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result line.

    python3 perfbench/run.py --workload pdf_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Builds graft and the benchmark from source on first use (see build.py),
runs the workload in one JVM with a local Spark session, checks that the
printed metrics are exactly the ones BENCHMARK.json declares for the
mode (end_to_end untraced, per_layer traced) and prints, as the last
line, {"correct", "attempted", "failed", "metrics"}. Everything the run
writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# Seconds a run may take, and the longer allowance of a run that builds.
LIMIT_S = 175
LIMIT_WITH_BUILD_S = 890
HEAP = "1g"
YOUNG = "256m"
CORES = max(1, min(4, os.cpu_count() or 1))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(classes, main, args, work, deadline):
    """Run `main` in a JVM; return its stdout. Kills the JVM at `deadline`."""
    jars = build.spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: the old generation's peak, which
    # is what sessions retain, is then what moves rss_peak_mb
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    log_path = os.path.join(os.path.dirname(work), os.path.basename(work) + ".log")
    with open(log_path, "w") as log:
        # few malloc arenas: native memory, and with it rss_peak_mb, then
        # depends less on which threads happened to allocate
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=ROOT, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{main} timed out; log in {log_path}")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"{main} exited with {proc.returncode}; log in {log_path}")
    os.remove(log_path)
    return out


def validate(result, spec, trace):
    declared = spec["per_layer" if trace else "end_to_end"]
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(want):
        fail(f"metrics {sorted(set(metrics) ^ set(want))} differ from BENCHMARK.json")
    for name, m in metrics.items():
        v = m.get("value")
        if m.get("unit") != want[name] or not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {name} is malformed: {m}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        fail("attempted must be a whole number >= 1")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true", help="run the benchmark's own checks")
    a = ap.parse_args()

    start = time.monotonic()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(spec_path) as f:
            spec = json.load(f)
        classes, built = build.ensure()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))
    deadline = start + (LIMIT_WITH_BUILD_S if built else LIMIT_S)

    runs = os.path.join(build.OUT, "work")
    work = os.path.join(runs, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selfcheck:
            out = run_jvm(classes, "perfbench.SelfCheck", [spec_path, os.path.join(work, "selfcheck")], work, deadline)
            print(out, end="")
            return
        names = [w["name"] for w in spec["workloads"]]
        if a.workload not in names:
            fail(f"--workload must be one of {names}")
        out = run_jvm(classes, "perfbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--work", work, "--cores", str(CORES)],
                      work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"no result line; output ends with: {lines[-1][:200]}")
    validate(result, spec, a.trace == 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
