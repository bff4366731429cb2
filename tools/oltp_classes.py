#!/usr/bin/env python3
"""Per-class latency table of oltp_mixed runs, side by side.

Reads the per-op lines of `perfbench/run.py --workload oltp_mixed` runs
from `<root>/.bench_work/logs/oltp_mixed-seed<n>-trace<t>.log` (one root
per checkout, e.g. a parent copy and the change) and prints, per seed and
per op class: the op count, the mean ms and the class's mix-weighted
share of `mean_ms`. Then it lists each run's puts in order, flagging the
every-8th compaction puts.

    python3 tools/oltp_classes.py /path/to/parent . --seeds 105 106 107

With `--summary` it prints, instead, each checkout's end-to-end metrics
over the seeds, read from `<root>/.bench_work/results/<workload>-seed<n>-
trace<t>.json`: per metric the median and quartiles of each side, and in
how many seeds the last root beat the first (one pair per seed):

    python3 tools/oltp_classes.py /path/to/parent . --seeds 301 302 303 --summary

The log holds every op the clients ran, timed-out ones included, so the
means can differ slightly from the run's own metrics when an op failed.
"""
import argparse
import json
import os
import re
import statistics
import sys

# each op class's share of the mix, and the engine's compaction cadence
# (graftbench.Oltp.Mix / WarmPuts / CheckpointEvery)
MIX = {"get": 0.50, "follow": 0.15, "scan": 0.05, "put": 0.30}
WARM_PUTS = 7
COMPACT_EVERY = 8

# which way each end-to-end metric improves (BENCHMARK.json end_to_end)
BETTER = {"setup_s": "lower", "mean_ms": "lower", "throughput_per_s": "higher"}

LINE = re.compile(r"^graftbench \+[\d.]+s (.*) (\d+) ms(?:, \d+ rows)?$")


def op_class(text):
    if text == "put":
        return "put"
    if "|> follow" in text:
        return "follow"
    if text.startswith('get "*"'):
        return "scan"
    return "get"


def read(path):
    """[(class, ms)] in log order."""
    ops = []
    with open(path, errors="replace") as f:
        for line in f:
            m = LINE.match(line.rstrip("\n"))
            if m:
                ops.append((op_class(m.group(1)), float(m.group(2))))
    return ops


def table(runs):
    """runs: [(label, ops)] -> printed class table."""
    stats = []
    for _, ops in runs:
        by = {}
        for c, ms in ops:
            by.setdefault(c, []).append(ms)
        means = {c: sum(xs) / len(xs) for c, xs in by.items()}
        # mean_ms as the harness takes it: the mix-weighted mean over the
        # classes that completed an op
        weighted = {c: MIX[c] * means[c] for c in means}
        w = sum(MIX[c] for c in means)
        mean_ms = sum(weighted.values()) / w if w else 0.0
        shares = {c: x / sum(weighted.values()) for c, x in weighted.items()
                  if sum(weighted.values())}
        stats.append((by, means, shares, mean_ms))
    head = f"{'class':<8}" + "".join(
        f"{label[-26:]:>28}" for label, _ in runs)
    print(head)
    print(f"{'':<8}" + "".join(f"{'n   mean ms  share':>28}" for _ in runs))
    for c in MIX:
        cells = []
        for by, means, shares, _ in stats:
            if c not in by:
                cells.append(f"{'-':>28}")
                continue
            cells.append(f"{len(by[c]):>9}{means[c]:>11.0f}"
                         f"{shares.get(c, 0.0):>8.0%}")
        print(f"{c:<8}" + "".join(cells))
    print(f"{'mean_ms':<8}" + "".join(
        f"{mean_ms:>20.0f}{'':>8}" for *_, mean_ms in stats))


def puts(label, ops):
    ms = [x for c, x in ops if c == "put"]
    cells = [f"{x:.0f}{'*' if (WARM_PUTS + i) % COMPACT_EVERY == 0 else ''}"
             for i, x in enumerate(ms, start=1)]
    print(f"  {label}: " + (" ".join(cells) if cells else "(none)"))


def quartiles(xs):
    """(q1, median, q3) of xs; a single run is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(roots, seeds, workload, trace):
    """Per metric, each root's median and quartiles over the seeds, and
    the pairs (same seed) the last root won against the first."""
    runs = {}
    for root in roots:
        for seed in seeds:
            path = os.path.join(root, ".bench_work", "results",
                                f"{workload}-seed{seed}-trace{trace}.json")
            if not os.path.exists(path):
                print(f"missing: {path}", file=sys.stderr)
                continue
            with open(path) as f:
                runs[root, seed] = json.load(f)
    print(f"== {workload}, trace {trace}, seeds {' '.join(map(str, seeds))}")
    for root in roots:
        rs = [runs[root, s] for s in seeds if (root, s) in runs]
        print(f"{os.path.abspath(root)}: {len(rs)} runs, "
              f"{sum(r['correct'] for r in rs)} correct, "
              f"{sum(r['failed'] for r in rs)} failed ops")
    print(f"{'metric':<18}{'root':>30}{'n':>4}{'median':>11}{'q1':>11}"
          f"{'q3':>11}{'iqr':>10}")
    for metric, better in BETTER.items():
        quarts = {}
        for root in roots:
            xs = [runs[root, s]["e2e"][metric]["value"] for s in seeds
                  if (root, s) in runs and metric in runs[root, s]["e2e"]]
            if not xs:
                continue
            q1, med, q3 = quarts[root] = quartiles(xs)
            print(f"{metric:<18}{os.path.abspath(root)[-28:]:>30}{len(xs):>4}"
                  f"{med:>11.2f}{q1:>11.2f}{q3:>11.2f}{q3 - q1:>10.2f}")
        first, last = roots[0], roots[-1]
        if len(roots) > 1 and first in quarts and last in quarts:
            pairs = [(runs[first, s]["e2e"][metric]["value"],
                      runs[last, s]["e2e"][metric]["value"]) for s in seeds
                     if (first, s) in runs and (last, s) in runs]
            won = sum((b < a) if better == "lower" else (b > a) for a, b in pairs)
            (f1, fm, f3), lm = quarts[first], quarts[last][1]
            print(f"{'':<18}last root wins {won} of {len(pairs)} pairs "
                  f"({better} is better); median {lm - fm:+.2f} against the "
                  f"first root's IQR {f3 - f1:.2f}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("roots", nargs="+",
                    help="checkouts whose .bench_work/logs to read")
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--summary", action="store_true",
                    help="end-to-end medians, quartiles and pairs won "
                         "instead of the per-class table")
    ap.add_argument("--workload", default="oltp_mixed",
                    help="workload whose results --summary reads")
    a = ap.parse_args(argv)
    if a.summary:
        summary(a.roots, a.seeds, a.workload, a.trace)
        return
    for seed in a.seeds:
        runs = []
        for root in a.roots:
            path = os.path.join(root, ".bench_work", "logs",
                                f"oltp_mixed-seed{seed}-trace{a.trace}.log")
            if not os.path.exists(path):
                print(f"missing: {path}", file=sys.stderr)
                continue
            runs.append((os.path.abspath(root), read(path)))
        if not runs:
            continue
        print(f"== seed {seed}, trace {a.trace}")
        table(runs)
        print("puts in order, ms (* = compaction put):")
        for label, ops in runs:
            puts(label, ops)
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
