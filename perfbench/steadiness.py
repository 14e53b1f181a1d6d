"""Steadiness check: runs each workload of BENCHMARK.json with several
seeds and reports, per end-to-end metric, the spread between the first
and third quartile as a share of the median, beside the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--out FILE]

Run from the repository root. Each run is one `perfbench/run.py` call,
so the figures are those of separate JVMs, as a user would see them.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(cmd, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = next((json.loads(l[len("# report "):]) for l in lines if l.startswith("# report ")), {})
    return result, report.get("cpu_steal_share"), time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = [n for n in a.workloads.split(",") if n]
    report = {"runs": a.runs, "run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        elapsed, steal, failures = [], [], 0
        for seed in range(a.first_seed, a.first_seed + a.runs):
            result, st, dt = run_once(bench["command"], name, seed, bench["run_seconds"])
            elapsed.append(dt)
            steal.append(st)
            failures += result["failed"] + (0 if result["correct"] else 1)
            for m in values:
                values[m].append(result["metrics"][m]["value"])
            print(f"{name} seed {seed}: {dt:.1f} s "
                  + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), file=sys.stderr)
        rows = {}
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                               "spread": (q3 - q1) / med, "bound": m["bound"],
                               "within_third_of_bound": (q3 - q1) / med < m["bound"] / 3,
                               "values": xs}
        report["workloads"][name] = {"failures": failures, "run_elapsed_s": elapsed,
                                     "cpu_steal_share": steal, "metrics": rows}
        for m, r in rows.items():
            print(f"{name} {m}: median {r['median']:.4g} spread {r['spread']:.3f} "
                  f"bound {r['bound']}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
