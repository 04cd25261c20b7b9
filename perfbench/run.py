"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. Builds the engine and the benchmark (see
build.py), runs the workload in one benchmark JVM at local[4], checks every
output, and prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics. --smoke runs tiny inputs, for the
benchmark's own tests. Exits 1 when any check or engine call failed; exits 1
without printing a result when the checkout holds no engine sources to build
or the benchmark JVM fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("backfill_whale", "doc_dedup")
TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def run_jvm(cp, args, deadline):
    """Runs the benchmark JVM and returns its last stdout line, parsed."""
    cmd = ["java"] + JAVA_OPTS + ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - now()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: benchmark JVM timed out")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        raise SystemExit("perfbench: benchmark JVM printed no result")
    return json.loads(lines[-1])


def now():
    return os.times().elapsed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    classes = build.build()
    start = now()
    deadline = start + TIMEOUT_S
    work = os.path.join(build.BUILD, "work")
    os.makedirs(work, exist_ok=True)
    cp = build.classpath(classes)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", work]
    if a.smoke:
        common.append("--smoke")

    out = run_jvm(cp, common + [
        "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
    metrics = out["layers"] if a.trace else out["metrics"]
    print(json.dumps({k: out[k] for k in (
        "properties", "gen_s", "setup_s", "job_s", "phases", "checks")} | {
        "workload": a.workload, "seed": a.seed, "wall_s": now() - start}), file=sys.stderr)
    correct = out["failed"] == 0 and all(ok == n for ok, n in out["checks"].values())
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
