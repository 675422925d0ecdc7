#!/usr/bin/env python3
"""Repo benchmark: builds the program from source, runs one workload in its
own JVM at local[nproc], checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload heavy-tail --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. --trace 0 prints the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones (a separate, traced run). The
last stdout line is one JSON object: correct, attempted, failed, metrics.
Exits non-zero when a correctness check fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host():
    """Task threads from the CPUs this process may use; heap from MemTotal
    the way the tier-1 test line sizes it (half of RAM, 2..8 GB)."""
    cores = len(os.sched_getaffinity(0))
    heap_gb = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                heap_gb = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, heap_gb


def java_cmd(classes, heap_gb, main_args, work):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap_gb}g", f"-Xms{heap_gb}g",
             "-XX:+UseParallelGC", "-XX:-ShrinkHeapInSteps",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, work, limit_s):
    """Runs the JVM in its own process group; kills the whole group on
    timeout. Returns (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: run exceeded {limit_s:.0f} s and was killed", file=sys.stderr)
        return 1, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=9)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        ap.error(f"--workload must be one of {names}")

    classes = build.build(ROOT)
    cores, heap_gb = host()
    work = os.path.join(ROOT, ".bench_build", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(classes, heap_gb, ["--selftest"], work), work, RUN_LIMIT_S)
            print("\n".join(lines))
            return code
        trace_out = os.path.join(ROOT, ".bench_build", "traces", f"{a.workload}-seed{a.seed}")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores), "--work", work,
                "--trace-out", trace_out]
        t0 = time.monotonic()
        code, lines = run_jvm(java_cmd(classes, heap_gb, args, work), work, RUN_LIMIT_S)
        result = next((json.loads(l.split(" ", 1)[1]) for l in reversed(lines)
                       if l.startswith("PERFBENCH_RESULT ")), None)
        if result is None:
            print(f"perfbench: the run printed no result (exit {code})", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in result["problems"]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = result["metrics"]
    absent = [m["name"] for m in wanted if m["name"] not in got]
    if absent and not a.trace:
        print(f"perfbench: end-to-end metrics missing: {absent}", file=sys.stderr)
        return 1
    if absent:
        print(f"perfbench: layers not exercised by {a.workload} (reported as 0): "
              + ", ".join(absent), file=sys.stderr)
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(f"host: cores={cores} (local[{cores}]) heap={heap_gb}g "
          f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"elapsed={time.monotonic() - t0:.1f}s")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(result["correct"]) and code == 0,
                      "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": metrics}))
    return 0 if result["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
