#!/usr/bin/env python3
"""Runs every workload of BENCHMARK.json untraced and traced, and prints
each metric by name with its unit, plus failed_frac, the tracing
overhead and, for the stream workload, rows/s and micro-batch times.

    python3 perfbench/report.py [--seed N] [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds",
         str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    report, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(report)["report"], json.loads(result)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    for w in spec["workloads"]:
        name = w["name"]
        for trace in (0, 1):
            report, result = run(name, a.seed, a.seconds, trace)
            print(f"{name} trace={trace} correct={result['correct']} "
                  f"failed_frac={report['failed_frac']:.3f} "
                  f"passes={report['passes']} samples={report['samples']}")
            for metric, v in result["metrics"].items():
                print(f"  {metric:24s} {v['value']:12.4f} {v['unit']}")
            if not trace and report.get("stream"):
                st = report["stream"]
                print(f"  {'rows_per_s':24s} {st['rows_per_s']:12.1f} 1/s")
                print(f"  {'batch_p50_ms':24s} {st['batch_p50_ms']:12.1f} ms")
                print(f"  {'batch_tail_ms':24s} {st['batch_tail_ms']:12.1f} "
                      f"ms (p{100 * st['batch_tail_quantile']:.0f} of "
                      f"{st['batch_samples']} batches)")


if __name__ == "__main__":
    main()
