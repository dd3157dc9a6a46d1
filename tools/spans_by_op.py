#!/usr/bin/env python3
"""Per-operation breakdown of a traced perfbench run.

A traced run (`python3 perfbench/run.py --workload <w> --seed <n> --trace 1`)
writes one record per span to `.bench_build/work/spans-<w>-<n>.json`: each
operation (`parent` < 0) and the program calls made inside it. This prints
every operation in start order with its calls (wall ms, Spark jobs, executor
run ms, shuffle bytes), then the totals per operation kind and call.

    python3 tools/spans_by_op.py ivf_online 1                 # every op
    python3 tools/spans_by_op.py ivf_online 1 --op insert,maintain
    python3 tools/spans_by_op.py path/to/spans.json --totals  # totals only
"""
import argparse
import json
import os
import sys
from collections import defaultdict


def load(args):
    if args.spans.endswith(".json"):
        path = args.spans
    else:
        if args.seed is None:
            sys.exit("give a seed with the workload, or a spans .json path")
        path = os.path.join(args.dir, f"spans-{args.spans}-{args.seed}.json")
    with open(path) as f:
        return path, json.load(f)


def row(name, ms, jobs, exec_ms, shuffle, indent):
    return f"{' ' * indent}{name:<{36 - indent}} {ms:>10.1f} {jobs:>6} {exec_ms:>10.1f} {shuffle:>12}"


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("spans", help="workload name (with seed) or a spans-*.json path")
    p.add_argument("seed", nargs="?", help="seed of the traced run")
    p.add_argument("--dir", default=".bench_build/work", help="directory holding the spans files")
    p.add_argument("--op", help="comma-separated operation names to show (default: all)")
    p.add_argument("--totals", action="store_true", help="print only the per-kind totals")
    args = p.parse_args()

    path, spans = load(args)
    wanted = set(args.op.split(",")) if args.op else None
    ops = sorted((s for s in spans if s["parent"] < 0), key=lambda s: s["start_ms"])
    calls = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            calls[s["op"]].append(s)

    print(f"# {path}: {len(ops)} operations")
    print(f"{'operation / call':<36} {'ms':>10} {'jobs':>6} {'exec_ms':>10} {'shuffle_b':>12}")
    totals = defaultdict(lambda: [0, 0.0, 0, 0.0, 0])  # count, ms, jobs, exec ms, shuffle bytes
    for op in ops:
        if wanted and op["name"] not in wanted:
            continue
        kids = sorted(calls[op["id"]], key=lambda s: s["start_ms"])
        op_ms = op["end_ms"] - op["start_ms"]
        t = totals[(op["name"], "")]
        t[0] += 1
        t[1] += op_ms
        for k in kids:
            ms = k["end_ms"] - k["start_ms"]
            for key in ((op["name"], ""), (op["name"], k["name"])):
                t = totals[key]
                if key[1]:
                    t[0] += 1
                    t[1] += ms
                t[2] += k["jobs"]
                t[3] += k["exec_run_ms"]
                t[4] += k["shuffle_bytes"]
        if args.totals:
            continue
        print(row(f"op {op['name']} #{op['id']}", op_ms, sum(k["jobs"] for k in kids),
                  sum(k["exec_run_ms"] for k in kids), sum(k["shuffle_bytes"] for k in kids), 0))
        for k in kids:
            print(row(k["name"], k["end_ms"] - k["start_ms"], k["jobs"], k["exec_run_ms"], k["shuffle_bytes"], 2))

    print("# totals per operation kind and call (count x)")
    for (op, call), (n, ms, jobs, exec_ms, shuffle) in sorted(totals.items()):
        name = f"{n}x op {op}" if not call else f"{n}x {call}"
        print(row(name, ms, jobs, exec_ms, shuffle, 2 if call else 0))


if __name__ == "__main__":
    main()
