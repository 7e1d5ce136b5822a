#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from source,
runs one workload in one JVM at local[<cores>] and prints the JSON result
as the last line of standard output.

Run from the root of a checkout:

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-fingerprints perfbench/gate_fingerprints.tsv

See perfbench/README.md for the workloads, the metrics and the trace file.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
TOOL_TIMEOUT_S = 1800
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def driver_mem():
    """The Tier-1 driver-memory rule: half of MemTotal in GiB, within 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def declared_metrics(trace):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(cmd, env, timeout):
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the benchmark JVM did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints", metavar="FILE")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "perfbench/src", "perfbench/gate_fingerprints.tsv",
                 "perfbench/data/sf0.001", "BENCHMARK.json"):
        if not os.path.exists(need):
            fail(f"{need} is missing: run from the root of a full checkout")
    if not (a.selftest or a.record_fingerprints or (a.workload and a.seed is not None and a.seconds)):
        fail("need --workload, --seed and --seconds (or --selftest / --record-fingerprints)")

    build = subprocess.run(["bash", "perfbench/build.sh"], env=dict(os.environ, BENCH_BUILD=BUILD),
                           stdout=sys.stderr)
    if build.returncode != 0:
        fail("build failed")

    tmp = os.path.abspath(os.path.join(BUILD, "tmp", f"run-{os.getpid()}"))
    os.makedirs(tmp)
    jars = spark_jars()
    cp = os.pathsep.join([os.path.join(BUILD, "classes", "bench"), os.path.join(BUILD, "classes", "engine"), jars])
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main"]
    if a.selftest:
        cmd.append("--selftest")
    elif a.record_fingerprints:
        cmd += ["--record-fingerprints", a.record_fingerprints]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", os.path.abspath(os.path.join(BUILD, "trace"))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    try:
        code, out = run_jvm(cmd, env, TOOL_TIMEOUT_S if a.selftest or a.record_fingerprints else JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    if a.selftest or a.record_fingerprints:
        print(out, end="")
        sys.exit(code)
    if code != 0 or not lines:
        fail(f"the benchmark JVM exited with code {code}")
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = declared_metrics(a.trace)
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        fail(f"metrics or units differ from BENCHMARK.json: {diff}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
