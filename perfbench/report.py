#!/usr/bin/env python3
"""Per-layer report of one workload: runs it untraced and traced on the
same seeds and prints, as markdown, the span self times and counts of the
first traced run, the median of every per-layer metric over the traced
runs, and the tracing overhead (median traced minus median untraced
end-to-end figures).

    python3 perfbench/report.py <workload> <first seed> [seconds] [runs]

`runs` (default 3) is the number of runs per mode, on seeds first seed,
first seed + 1, ... Run from the root of a checkout. perfbench/BASELINE.md
holds its output for the first per-layer baseline.
"""
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def bench(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    spans = p.stderr.split("span                      count    total_s     self_s\n", 1)[-1]
    return json.loads(lines[-2])["info"], json.loads(lines[-1]), spans.strip().splitlines()


def main():
    workload, seed = sys.argv[1], int(sys.argv[2])
    seconds = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    seeds = range(seed, seed + runs)
    plain = [bench(workload, s, seconds, 0) for s in seeds]
    traced = [bench(workload, s, seconds, 1) for s in seeds]
    info, spans = traced[0][0], traced[0][2]

    def med(results, name):
        return statistics.median(r["metrics"][name]["value"] for _, r, _ in results)

    print(f"### {workload} (seeds {seed}–{seed + runs - 1}, {seconds} s, nproc {info['nproc']}, "
          f"heap {info['heap']}, build {info['build']})\n")
    print(f"Spans of the traced run on seed {seed}:\n")
    print("| span | count | total s | self s |\n|---|---:|---:|---:|")
    for line in spans:
        name, count, total, self_s = line.split()
        print(f"| {name} | {count} | {total} | {self_s} |")
    print(f"\nMedian over the {runs} traced runs:\n")
    print("| per-layer metric | value | unit |\n|---|---:|---|")
    for name, m in traced[0][1]["metrics"].items():
        print(f"| {name} | {med(traced, name):.6g} | {m['unit']} |")
    print(f"\nTracing overhead, medians over {runs} runs each:\n")
    print("| metric | untraced | traced | traced − untraced |\n|---|---:|---:|---:|")
    for e2e, t in (("suite_s", "trace.suite_s"), ("query_p50_s", "trace.query_p50_s")):
        a, b = med(plain, e2e), med(traced, t)
        print(f"| {e2e} | {a:.4f} | {b:.4f} | {b - a:+.4f} ({(b - a) / a:+.1%}) |")
    print()


if __name__ == "__main__":
    main()
