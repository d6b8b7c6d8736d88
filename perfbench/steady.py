#!/usr/bin/env python3
"""Check that the benchmark is steady on this box.

    python3 perfbench/steady.py --workload validate_compiled --runs 10 [--first-seed 100]

Runs perfbench/run.py once per seed, one run at a time, and prints for every
end-to-end metric its median and its spread: the distance between the first
and third quartile of the runs, as a share of the median. A spread above a
third of the metric's bound in BENCHMARK.json is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lib  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=root, stdout=subprocess.PIPE, text=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if r.returncode != 0 or not res["correct"]:
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: {time.time() - t0:.0f} s wall, " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        s = lib.spread(xs)
        flag = "" if s <= m["bound"] / 3 else "  <-- above a third of the bound"
        print(f"{m['name']:18s} median {statistics.median(xs):12.5g} {m['unit']:7s} "
              f"spread {s:.4f} bound {m['bound']}{flag}")


if __name__ == "__main__":
    main()
