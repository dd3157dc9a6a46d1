#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, or repeatability of the
per-layer counts.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 6]
    python3 perfbench/spread.py --workload <name> --seeds 5,5 --traced

Runs the workload once per seed (through run.py) and prints, per metric,
the median and the interquartile range as a share of the median (quartiles
as statistics.quantiles(values, n=4) gives them), next to the metric's bound
from BENCHMARK.json. With --traced the runs are traced and the script lists
the per-layer counts (jobs and ratios) that differ between runs. A failed
run stops the script.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values, record = {}, {}  # gated metrics; the rest of the printed record
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", "1" if a.traced else "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}: {last}")
        res = json.loads(last)
        if not a.traced:
            print(f"seed {s}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for m in re.finditer(r"^metric (\S+)\s+(\S+)", p.stdout, re.M):
            if m.group(1) not in res["metrics"]:
                record.setdefault(m.group(1), []).append(float(m.group(2)))
    if a.traced:
        counts = [k for k in values if not k.endswith("_ms") and not k.endswith(".shuffle_bytes")]
        differ = [k for k in counts if len(set(values[k])) > 1]
        print(f"# {a.workload}: {len(counts)} counts over {len(seeds(a.seeds))} traced runs; "
              f"{len(differ)} differ")
        for k in differ:
            print(f"{k:<40} {values[k]}")
        return
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"# {a.workload}: {len(seeds(a.seeds))} seeds, {seconds} s runs")
    def show(name, xs, bound):
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        flag = "" if bound is None or name == "setup_s" or spread < bound / 3 else \
            ("  > bound/3" if spread < bound else "  > BOUND")
        print(f"{name:<20} median {med:12.4f}  iqr/median {spread:7.4f}  bound {bound}{flag}")

    for k, xs in values.items():
        if len(xs) > 1:
            show(k, xs, bounds.get(k))
    for k, xs in record.items():  # not gated; shown to tell where a spread comes from
        if len(xs) > 1:
            show(f"({k})", xs, None)

if __name__ == "__main__":
    main()
