#!/usr/bin/env python3
"""Per-span cost of traced oltp_mixed runs, side by side.

Reads the spans of `perfbench/run.py --workload oltp_mixed --trace 1` runs
from `<root>/.bench_work/traces/oltp_mixed-seed<n>.json` (one root per
checkout, e.g. a parent copy and the change) and prints, per seed, one row
per span name and op class (`api.put`, `api.query`, `api.drain`) with the
span count n, ms/op, and the Spark jobs, tasks and task-ms per op the
harness's listener attributed to it. Plain puts and the every-8th
compaction puts are separate rows, and each run's compaction puts are then
listed one by one, so a saving shows in the layer and op class it lands in.

    python3 tools/oltp_spans.py /path/to/parent . --seeds 101

A span with no `jobs` field ran no Spark job.
"""
import argparse
import json
import os
import sys

NAMES = ("api.put", "api.query", "api.drain")
CLASSES = ("get", "follow", "scan")
# the harness's warm-up puts and the engine's compaction cadence
# (graftbench.Oltp.WarmPuts / CheckpointEvery)
WARM_PUTS = 7
COMPACT_EVERY = 8
COL = 44


def read(path):
    """{(name, class): [span]}; puts split into "put" and "compaction"."""
    with open(path) as f:
        spans = sorted(json.load(f)["spans"], key=lambda s: s["start_ns"])
    rows = {}
    puts = 0
    for s in spans:
        if s["name"] not in NAMES:
            continue
        cls = s["key"]
        if s["name"] == "api.put":
            puts += 1
            cls = ("compaction" if (WARM_PUTS + puts) % COMPACT_EVERY == 0
                   else "put")
        rows.setdefault((s["name"], cls), []).append(s)
    return rows


def ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def cell(spans):
    n = len(spans)
    per = lambda f: sum(f(s) for s in spans) / n
    return (f"{n:>5}{per(ms):>9.1f}{per(lambda s: s.get('jobs', 0)):>8.2f}"
            f"{per(lambda s: s.get('tasks', 0)):>9.2f}"
            f"{per(lambda s: s.get('task_ms', 0)):>13.1f}")


def table(runs):
    print(f"{'span':<24}" + "".join(f"{label[-(COL - 2):]:>{COL}}"
                                    for label, _ in runs))
    head = (f"{'n':>5}{'ms/op':>9}{'jobs/op':>8}{'tasks/op':>9}"
            f"{'task-ms/op':>13}")
    print(f"{'':<24}" + "".join(f"{head:>{COL}}" for _ in runs))
    keys = ([("api.put", "put"), ("api.put", "compaction")] +
            [(n, c) for n in NAMES[1:] for c in CLASSES])
    for key in keys:
        cells = [cell(rows[key]) if key in rows else f"{'-':>5}"
                 for _, rows in runs]
        print(f"{' '.join(key):<24}" + "".join(f"{c:>{COL}}" for c in cells))


def compactions(label, rows):
    cs = rows.get(("api.put", "compaction"), [])
    cells = [f"{ms(s):.0f} ms/{s.get('jobs', 0)}j/{s.get('tasks', 0)}t"
             for s in cs]
    print(f"  {label}: " + (", ".join(cells) if cells else "(none)"))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("roots", nargs="+",
                    help="checkouts whose .bench_work/traces to read")
    ap.add_argument("--seeds", nargs="+", type=int, default=[101])
    a = ap.parse_args(argv)
    for seed in a.seeds:
        runs = []
        for root in a.roots:
            path = os.path.join(root, ".bench_work", "traces",
                                f"oltp_mixed-seed{seed}.json")
            if not os.path.exists(path):
                print(f"missing: {path}", file=sys.stderr)
                continue
            runs.append((os.path.abspath(root), read(path)))
        if not runs:
            continue
        print(f"== seed {seed}")
        table(runs)
        print("compaction puts in order (ms/jobs/tasks):")
        for label, rows in runs:
            compactions(label, rows)
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
