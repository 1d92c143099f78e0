#!/usr/bin/env python3
"""Compare two sets of benchmark results, refusing mismatched hosts.

    python3 perfbench/compare.py <before.json>... -- <after.json>...

Each file is a run report that `run.py` writes under
`.bench_build/graft/results/`. Reports of one side must be of one
workload. The comparison is refused when any host record differs in
the fields that decide performance (core count, memory, heap, Spark
version): numbers from different hosts are not a before/after pair.
It is also refused when the runs differ in corpus scale or run length,
and for traced runs, whose timings carry the listeners' overhead.
For each end-to-end metric it prints both medians, both quartile
spreads and the change.
"""
import json
import statistics
import sys

HOST_KEYS = ("nproc", "mem_total_kb", "xmx", "spark_version")
RUN_KEYS = ("scale", "seconds")


def load(paths):
    reports = []
    for p in paths:
        with open(p) as f:
            reports.append(json.load(f))
    return reports


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / med


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    before, after = load(argv[:cut]), load(argv[cut + 1:])
    if not before or not after:
        raise SystemExit("need at least one report on each side")
    if any(r["trace"] for r in before + after):
        raise SystemExit("refused: traced runs (--trace 1) are not timed runs")
    runs = {tuple(r.get(k) for k in RUN_KEYS) for r in before + after}
    if len(runs) > 1:
        raise SystemExit(f"refused: runs differ ({', '.join(RUN_KEYS)}): {sorted(runs, key=repr)}")
    hosts = {tuple(r["host"][k] for k in HOST_KEYS) for r in before + after}
    if len(hosts) > 1:
        raise SystemExit("refused: host records differ "
                         f"({', '.join(HOST_KEYS)}): {sorted(hosts)}")
    for side in (before, after):
        if len({r["workload"] for r in side}) > 1:
            raise SystemExit("refused: one side mixes workloads")
    print(f"workload {before[0]['workload']}: {len(before)} runs before, {len(after)} after")
    for k in before[0]["end_to_end"]:
        b = [r["end_to_end"][k] for r in before if k in r["end_to_end"]]
        a = [r["end_to_end"][k] for r in after if k in r["end_to_end"]]
        mb, ma = statistics.median(b), statistics.median(a)
        change = (ma - mb) / mb if mb else float("nan")
        print(f"  {k:14s} before {mb:12.6g} (spread {spread(b):.3f})  "
              f"after {ma:12.6g} (spread {spread(a):.3f})  change {change:+.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
