#!/usr/bin/env python3
"""Benchmark of the shipped extraction job, graft.plans.ExtractionJob.run.

Run from the repository root:

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first call compiles the repository's main sources together with
perfbench/src into .bench_build/ (perfbench/build.sh); later calls reuse
that build while the sources are unchanged. One call runs one workload in
one JVM (perfbench/src/perfbench/PerfBench.scala) and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones; a call whose output check
fails, or that misses a metric, exits non-zero.

Inputs, outputs, Spark's local dir and the JVM's temp dir live in
.bench_build/scratch/run-<pid>/, which is removed on exit; directories left
by processes that are gone are removed at start. --smoke runs every
workload in both trace modes on a tiny input and checks that every metric
is printed with its unit.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.sha256")
SCRATCH = os.path.join(BUILD, "scratch")

# One JVM call may not outlive this; the build has its own limit.
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# What SparkSession needs on JDK 17 outside spark-submit (the list in the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A pre-touched fixed heap: first-touch page faults stay out of timings.
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {home}")
    return jars


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing sources: {os.path.relpath(r, ROOT)}")
        for d, _, files in sorted(os.walk(r)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    h.update(open(os.path.join(HERE, "build.sh"), "rb").read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and \
            open(STAMP).read().strip() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building", file=sys.stderr)
    run_child(["bash", os.path.join(HERE, "build.sh"), CLASSES],
              BUILD_TIMEOUT_S, sys.stderr, "build")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_child(cmd, timeout, stdout, what, cwd=ROOT):
    """Runs cmd in its own process group; kills the group on timeout or
    interrupt and waits for it. Returns its exit code (non-zero fails)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)
    try:
        code = p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{what} did not finish within {timeout} s")
    if code != 0:
        fail(f"{what} exited with {code}")
    return code


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def reap_stale():
    if not os.path.isdir(SCRATCH):
        return
    for name in os.listdir(SCRATCH):
        if name.startswith("run-") and name[4:].isdigit() and \
                not pid_alive(int(name[4:])):
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}, spec


def run_jvm(workload, seed, seconds, trace, smoke):
    """One JVM call; returns the parsed result object."""
    scratch = os.path.join(SCRATCH, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        # more JIT threads: Spark's driver code reaches its compiled steady
        # state in about 4 job runs instead of 8 (4-core host)
        "-XX:CICompilerCount=6",
        # no hsperfdata file outside the checkout
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.PerfBench", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--scratch", scratch] + (["--smoke"] if smoke else [])
    out_path = os.path.join(scratch, "stdout.txt")
    err_path = os.path.join(scratch, "stderr.txt")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            p = subprocess.Popen(cmd, cwd=scratch, stdout=out, stderr=err,
                                 start_new_session=True)
            try:
                code = p.wait(timeout=JVM_TIMEOUT_S)
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
        result = None
        with open(out_path) as fh:
            for line in fh:
                if line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    sys.stdout.write(line)
        sys.stdout.flush()
        if result is None or code != 0:
            with open(err_path) as fh:
                sys.stderr.writelines(l for l in fh if "INFO" not in l)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        fail(f"{workload}: the JVM printed no result (exit code {code})")
    if code != 0 or not result["correct"] or result["failed"]:
        print(json.dumps(result))
        print(f"perfbench: {workload}: {result['failed']} of "
              f"{result['attempted']} attempts failed (exit code {code})",
              file=sys.stderr)
        sys.exit(1)
    return result


def validate(result, trace):
    want, _ = expected_metrics(trace)
    got = result["metrics"]
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = sorted(k for k in want if k in got and got[k]["unit"] != want[k])
    bad = sorted(k for k in got if not isinstance(got[k]["value"], (int, float)))
    if missing or extra or wrong or bad:
        fail(f"metrics do not match BENCHMARK.json: missing {missing}, "
             f"extra {extra}, wrong unit {wrong}, not a number {bad}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny input, one run per phase, every workload")
    a = ap.parse_args()
    # a terminated run still kills and waits for its JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    _, spec = expected_metrics(False)
    names = [w["name"] for w in spec["workloads"]]
    reap_stale()
    build()
    if a.smoke:
        for w in names:
            for trace in (0, 1):
                t0 = time.time()
                r = run_jvm(w, a.seed, 1, trace, smoke=True)
                validate(r, trace)
                print(f"smoke {w} trace {trace}: {len(r['metrics'])} metrics "
                      f"with units, {time.time() - t0:.1f} s")
        print(json.dumps({"correct": True, "attempted": 2 * len(names),
                          "failed": 0, "metrics": {}}))
        return
    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    r = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, smoke=False)
    validate(r, a.trace == 1)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
