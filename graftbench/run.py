#!/usr/bin/env python3
"""Run one benchmark workload of the validation engine.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --self-test

Run from the repository root. Builds the engine and the benchmark from
source when they changed (graftbench/build.py), then runs the harness
(graftbench.Main) in one JVM. Its last stdout line is the JSON result;
progress and a readable report go to stderr. Inputs, outputs and traces
live in .bench_work/ at the repository root.
"""
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit: the module opens Spark's launcher
# adds (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a run must end within 180 s; leave room to stop the JVMs
TIMEOUT_S = 170
HEAP = "4g"


def main(argv):
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the throughput collector, with a heap cap well above what a run uses,
    # so the resident set follows the engine's memory, not the cap
    java = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Xss4m", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp])
    if argv == ["--self-test"]:
        steps = [java + ["graftbench.SelfTest"]]
    else:
        # inputs first, in a JVM of their own (see graftbench.Main)
        harness = java + ["graftbench.Main"] + argv + ["--work", work]
        steps = [harness + ["--inputs", "1"], harness]
    deadline = time.monotonic() + TIMEOUT_S
    for cmd in steps:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[graftbench] timed out after {TIMEOUT_S} s", file=sys.stderr)
            return 3
        if proc.returncode != 0:
            break
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0:
        if lines:
            print(lines[-1], file=sys.stderr)
        print(f"[graftbench] harness exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode
    if lines:
        print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
