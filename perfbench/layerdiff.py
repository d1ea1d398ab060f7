#!/usr/bin/env python3
"""Diffs two traced runs layer by layer.

Usage: python3 perfbench/layerdiff.py A.json B.json [--bound F]

A and B are trace files that `run.py --trace 1` leaves in
.perfbench/traces/. Job, stage and task counts (the metrics with unit
`count`) must be equal; they repeat exactly from run to run on the same
code. Times (units s and ms) may differ by at most the bound, a share of
A's value; the default is the largest end-to-end bound in BENCHMARK.json.
Other metrics are printed for reading. Per-entry job counts are compared
too, so a moved count names its entry. Exits 1 when a count differs or a
time is over the bound.
"""
import argparse
import json
import os
import sys


def entry_jobs(run):
    """{(entry, phase): jobs per traced pass}, from the recorded spans."""
    traced = {i for i, p in enumerate(run["passes"]) if p["traced"]}
    out = {}
    for j in run["spans"]["jobs"]:
        if j["pass"] in traced:
            key = (j["entry"], j["phase"])
            out[key] = out.get(key, 0) + 1
    return {k: v / len(traced) for k, v in out.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bound", type=float)
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bound = args.bound if args.bound is not None else max(m["bound"] for m in bench["end_to_end"])
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    a, b = (json.load(open(p)) for p in (args.a, args.b))
    for t in (a, b):
        if t["trace"] != 1:
            raise SystemExit(f"layerdiff: {t['workload']} seed {t['seed']} is not a traced run")
    bad = 0
    print(f"{'metric':28s} {'A':>12s} {'B':>12s}  verdict")
    for name in sorted(set(a["metrics"]) | set(b["metrics"])):
        va, vb = a["metrics"].get(name), b["metrics"].get(name)
        unit = units.get(name, "")
        if va is None or vb is None:
            verdict = "MISSING"
            bad += 1
        elif unit == "count":
            verdict = "same" if va == vb else "COUNT DIFFERS"
            bad += va != vb
        elif unit in ("s", "ms") and va > 0:
            rel = vb / va - 1
            verdict = f"{rel:+.1%}" + (" OVER BOUND" if rel > bound else "")
            bad += rel > bound
        else:
            verdict = f"{vb / va - 1:+.1%}" if va else ""
        fa, fb = (f"{v:12.4f}" if v is not None else f"{'-':>12s}" for v in (va, vb))
        print(f"{name:28s} {fa} {fb}  {verdict}")
    ea, eb = entry_jobs(a["run"]), entry_jobs(b["run"])
    for key in sorted(set(ea) | set(eb)):
        if ea.get(key) != eb.get(key):
            print(f"jobs of {key[0]} in {key[1]}: {ea.get(key, 0)} -> {eb.get(key, 0)}")
            bad += 1
    print(f"== {'differs' if bad else 'same'} (time bound {bound:.0%})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
