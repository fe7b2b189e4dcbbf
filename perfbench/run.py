#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a graft checkout. Builds the library and the harness
when their sources changed (perfbench/build.py), starts one JVM at
local[<cores>] with a fixed heap, and prints every metric with its unit and
sample count, then, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. Traced runs (--trace 1) report the
per-layer metrics and leave a span/counter artifact under
.bench_build/artifacts/. Every file a run writes lives under .bench_build/;
its working directory is deleted when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("trend_bulk", "trend_interactive", "curate", "ann_serve")
HEAP = "6g"  # within the 8 GB envelope the engine claims
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classpath, main, args, work, timeout):
    """Run a JVM in its own process group; kill the group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no perf-data file in the system temp directory: runs write only
    # inside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run: {main} did not finish within {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the harness's own tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classpath = build.build()
    runs = os.path.join(build.OUT, "runs")
    tag = "selftest" if a.self_test else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(runs, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            code, out = jvm(classpath, "graftbench.SelfTest", [], work, JVM_TIMEOUT_S)
            sys.stdout.write(out)
            return code
        arts = os.path.join(build.OUT, "artifacts")
        os.makedirs(arts, exist_ok=True)
        result = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", result,
                "--artifact", os.path.join(arts, f"{tag}.json"), "--sha", build.source_id()]
        code, out = jvm(classpath, "graftbench.Main", args, work, JVM_TIMEOUT_S)
        sys.stdout.write(out)
        if code != 0 or not os.path.exists(result):
            print(f"run: benchmark JVM exited with code {code}", file=sys.stderr)
            return code or 1
        line = open(result).read().strip()
        json.loads(line)  # refuse to print anything but a well-formed result
        print(line)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
