#!/usr/bin/env python3
"""Prints the per-layer table of traced runs next to the end-to-end
metrics of untraced ones, from the artifacts run.py leaves in
perfbench/results/.

    python3 perfbench/report.py [--workload NAME]
"""
import argparse
import glob
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def latest(workload, traced):
    files = glob.glob(os.path.join(HERE, "results", "%s-seed*-trace%d.json" % (workload, traced)))
    if not files:
        return None
    with open(max(files, key=os.path.getmtime)) as fh:
        return json.load(fh)


def fmt(v):
    return "%.4g" % v if isinstance(v, (int, float)) else str(v)


def show(workload):
    plain, traced = latest(workload, 0), latest(workload, 1)
    if not plain and not traced:
        return
    print("== %s" % workload)
    if plain:
        print("end to end (seed %d, correct=%s, %d/%d checks failed):" % (
            plain["seed"], plain["correct"], plain["failed"], plain["attempted"]))
        for k, m in plain["end_to_end"].items():
            print("  %-28s %12s %s" % (k, fmt(m["value"]), m["unit"]))
        for k, v in plain["detail"].items():
            print("  %-28s %12s" % (k, fmt(v)))
    if traced:
        print("per layer, median per op (traced seed %d):" % traced["seed"])
        for k, m in traced["per_layer"].items():
            if m["value"]:
                print("  %-28s %12s %s" % (k, fmt(m["value"]), m["unit"]))
        print("self time over the timed ops (share of op wall time; concurrent jobs overlap):")
        for layer, t in sorted(traced["layer_self_time"].items(), key=lambda kv: -kv[1]["self_ms"]):
            print("  %-28s %10.1f ms %6.1f%%" % (layer, t["self_ms"], 100 * t["share"]))
        over = traced.get("tracing_overhead")
        if over:
            print("tracing overhead, traced / untraced (%s):" % over["against"])
            for k, r in over["traced_over_untraced"].items():
                print("  %-28s %12.3f" % (k, r))
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    args = ap.parse_args()
    names = [args.workload] if args.workload else sorted(
        {os.path.basename(f).split("-seed")[0]
         for f in glob.glob(os.path.join(HERE, "results", "*.json"))})
    for name in names:
        show(name)


if __name__ == "__main__":
    main()
