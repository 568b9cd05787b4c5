#!/usr/bin/env python3
"""End-to-end benchmark of the KG engine: one workload per invocation.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: kg_fresh, kg_hub_link, kg_resume, query_suite (see
perfbench/README.md). The engine is built from source on first use
(perfbench/build.py), then one JVM runs the workload on local[4]. Human-
readable lines (every metric with median, quartiles and sample count) go to
stdout; the last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). Exits non-zero if the build fails, the run fails or any
output check fails. Everything is written under the build directory and the
per-run work directory is removed at the end.
"""
import argparse
import json
import pathlib
import shutil
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("kg_fresh", "kg_hub_link", "kg_resume", "query_suite")
# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 170


def run_jvm(cmd):
    """Run the workload JVM; relay its lines; return (exit code, JSON line or None)."""
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    result = []

    def relay():
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result.append(line)
            else:
                print(line, flush=True)

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        proc.kill()
        proc.wait()
        return 3, None
    reader.join()
    return code, (result[-1] if result else None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = build.build_dir() / f"work-{a.workload}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", str(build.ROOT), "--work", str(work)]
    try:
        code, last = run_jvm(cmd)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if last is None:
        print(f"perfbench: no result line (exit code {code})", file=sys.stderr)
        return code or 1
    result = json.loads(last)
    print(json.dumps(result))
    return 0 if code == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
