#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload.

Usage: python3 perfbench/compare.py <A> <B> [--benchmark BENCHMARK.json]

A and B are run records written by perfbench/run.py (directories of them,
such as .bench_build/results, or single files). A is the base, B the
candidate.

- End-to-end metrics (runs with --trace 0): each side's median and its
  spread (interquartile range / median). B is a regression when its
  median is worse than A's by more than the metric's bound in
  BENCHMARK.json. A metric whose spread on either side exceeds the bound
  is reported as unresolved rather than unchanged.
- Per-layer metrics (runs with --trace 1): exact counters (units count and
  bytes, and ratios of them) must be identical between every pair of runs
  of the same workload and seed, on both sides. Timings are listed with
  their medians; they have no bound.
- Every run must be correct with no failed pass.

Exits 1 when any of these fails, else 0.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

# ratios of exact counters are exact too
EXACT_RATIOS = {"checkpoint.jobs_per_bucket", "checkpoint.out_bytes_per_in_byte",
                "dedup.lsh_precision"}


def load(path):
    p = Path(path)
    if not p.exists():
        raise SystemExit(f"no run records at {path}")
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = [json.loads(f.read_text()) for f in files]
    if not runs:
        raise SystemExit(f"no run records under {path}")
    return runs


def spread(values):
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def is_exact(name, unit):
    return unit in ("count", "bytes") or name in EXACT_RATIOS


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    bench = json.loads(Path(args.benchmark).read_text())
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    sides = {"A": load(args.a), "B": load(args.b)}
    ok = True

    for side, runs in sides.items():
        bad = [r for r in runs if not r["result"]["correct"] or r["result"]["failed"]]
        for r in bad:
            print(f"FAIL {side} {r['workload']} seed {r['seed']}: correct="
                  f"{r['result']['correct']} failed={r['result']['failed']}")
        ok &= not bad

    by = defaultdict(lambda: defaultdict(list))
    for side, runs in sides.items():
        for r in runs:
            by[(r["workload"], r["trace"])][side].append(r)

    print(f"{'workload':22s} {'metric':34s} {'A median':>12s} {'B median':>12s} "
          f"{'change':>8s} {'A iqr':>6s} {'B iqr':>6s} {'bound':>6s} verdict")
    for (workload, trace), group in sorted(by.items()):
        if trace == 0:
            for name, m in e2e.items():
                a = [r["result"]["metrics"][name]["value"] for r in group["A"]]
                b = [r["result"]["metrics"][name]["value"] for r in group["B"]]
                if not a or not b:
                    print(f"{workload:22s} {name:34s} missing on one side")
                    continue
                ma, mb = statistics.median(a), statistics.median(b)
                worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
                sa, sb = spread(a), spread(b)
                if worse > m["bound"]:
                    verdict, ok = "REGRESSION", False
                elif max(sa, sb) > m["bound"]:
                    verdict = "unresolved"
                else:
                    verdict = "ok"
                print(f"{workload:22s} {name:34s} {ma:12.5g} {mb:12.5g} {(mb - ma) / ma:+8.3f} "
                      f"{sa:6.3f} {sb:6.3f} {m['bound']:6.2f} {verdict}")
        else:
            runs = group["A"] + group["B"]
            names = sorted({k for r in runs for k in r["result"]["metrics"]})
            for name in names:
                unit = next(r["result"]["metrics"][name]["unit"] for r in runs
                            if name in r["result"]["metrics"])
                if is_exact(name, unit):
                    seeds = defaultdict(set)
                    for r in runs:
                        if name in r["result"]["metrics"]:
                            seeds[r["seed"]].add(r["result"]["metrics"][name]["value"])
                    differ = {s: v for s, v in seeds.items() if len(v) > 1}
                    verdict = "exact" if not differ else f"DIFFERS {dict(differ)}"
                    ok &= not differ
                else:
                    verdict = "timing"
                a = [r["result"]["metrics"][name]["value"] for r in group["A"]
                     if name in r["result"]["metrics"]]
                b = [r["result"]["metrics"][name]["value"] for r in group["B"]
                     if name in r["result"]["metrics"]]
                ma = statistics.median(a) if a else float("nan")
                mb = statistics.median(b) if b else float("nan")
                change = (mb - ma) / ma if a and b and ma else float("nan")
                print(f"{workload + ' (traced)':22s} {name:34s} {ma:12.5g} {mb:12.5g} "
                      f"{change:+8.3f} {'':6s} {'':6s} {'':6s} {verdict}")
    print("OK" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
