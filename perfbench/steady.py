#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports how steady it is.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out file.json]

For every workload in BENCHMARK.json (or --workloads) and every seed,
runs `run.py --trace 0` for the benchmark's run_seconds, then prints
per end-to-end metric its median, quartile spread (Q3 - Q1 over the
median, quartiles as `statistics.quantiles(values, n=4)` gives them) and
the bound BENCHMARK.json fixes, plus the wall time of each run.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", help="also write every run's metrics here as JSON")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if out.returncode != 0:
                log = os.path.join(HERE, "results", "%s-seed%d.stderr" % (w, seed))
                with open(log, "w") as fh:
                    fh.write(out.stderr)
                print("%s seed %d: exit %d (stderr in %s)" % (w, seed, out.returncode, log), flush=True)
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print("%s seed %d: %.1f s, correct=%s, %s" % (
                w, seed, wall, res["correct"],
                ", ".join("%s=%.4g" % (k, v) for k, v in runs[-1]["metrics"].items())), flush=True)
        record[w] = runs
        if len(runs) < 2:
            continue
        print("\n%s: %d runs, wall median %.1f s" % (
            w, len(runs), stats.median([r["wall_s"] for r in runs])))
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            print("  %-18s median %-12.5g spread %.3f  bound %.2f" % (
                name, stats.median(vals), stats.quartile_spread(vals), bounds[name]))
        print(flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)


if __name__ == "__main__":
    main()
