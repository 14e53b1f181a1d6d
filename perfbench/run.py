"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload pipeline_hourly --seed 1 --seconds 15 --trace 0

Builds the program and the harness if needed (perfbench/build.py), runs one
workload in a fresh JVM on local[nproc], and prints as its last stdout line
one JSON object: correct, attempted, failed and the metrics. `--trace 0`
reports the end-to-end metrics; `--trace 1` reports the per-layer metrics
and writes the span dump under .bench_out/. See perfbench/DESIGN.md.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pipeline_hourly", "catalogue_iterative")
TIME_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb():
    """A fifth of physical memory, between 2 and 3 GiB: the machine may be
    shared, and every workload runs well inside 2 GiB of live heap."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2048, min(3072, total_kb // 5 // 1024))


def jvm_flags():
    """A fixed-size heap and the throughput collector: with G1's adaptive
    heap sizing, repeated runs of one seed differed by up to a fifth."""
    heap = heap_mb()
    return [f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath = build.build()
    start = time.time()
    tmp = os.path.abspath(os.path.join(build.build_dir(), "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_flags() + ["-Djava.io.tmpdir=" + tmp]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, TIME_LIMIT_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: time limit reached", file=sys.stderr)
        return 1
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        print(f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
