#!/usr/bin/env python3
"""Per-class latency table of oltp_mixed runs, side by side.

Reads the per-op lines of `perfbench/run.py --workload oltp_mixed` runs
from `<root>/.bench_work/logs/oltp_mixed-seed<n>-trace<t>.log` (one root
per checkout, e.g. a parent copy and the change) and prints, per seed and
per op class: the op count, the mean ms and the class's mix-weighted
share of `mean_ms`. Then it lists each run's puts in order, flagging the
every-8th compaction puts.

    python3 tools/oltp_classes.py /path/to/parent . --seeds 105 106 107

The log holds every op the clients ran, timed-out ones included, so the
means can differ slightly from the run's own metrics when an op failed.
"""
import argparse
import os
import re
import sys

# each op class's share of the mix, and the engine's compaction cadence
# (graftbench.Oltp.Mix / WarmPuts / CheckpointEvery)
MIX = {"get": 0.50, "follow": 0.15, "scan": 0.05, "put": 0.30}
WARM_PUTS = 7
COMPACT_EVERY = 8

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


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("roots", nargs="+",
                    help="checkouts whose .bench_work/logs to read")
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
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
