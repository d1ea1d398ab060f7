#!/usr/bin/env python3
"""Alternated A/B of the repository benchmark: a parent revision against the
working tree, in pairs of perfbench runs.

Usage, from the repository root:
  python3 tools/ab_pairs.py PARENT_REV --workload NAME --seeds 21,22,...
      [--workdir DIR] [--traced]

The parent revision is exported with `git archive` into DIR/parent (a fresh
temporary directory unless --workdir is given; a given DIR is kept, and the
next call reuses the export only if it is of the same revision; a temporary
one is removed). Pair i runs `perfbench/run.py --trace 0` with seed i for
BENCHMARK.json's `run_seconds` on both sides; even pairs run the parent
first, odd pairs the change first. Both sides share the change's generated
corpus (run.py checks its sha256 on every run).

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, how many pairs the change won (ties count for neither side),
and whether the medians differ by more than the parent's quartile spread:
a gain is claimed only when the change wins at least nine tenths of the
pairs and beats that spread. With --traced, one traced run per side
follows (first seed) and perfbench/layerdiff.py compares them.

The working tree gets nothing outside .perfbench/: the summary goes to
.perfbench/ab/<workload>-<parent>.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True


def export(rev, dest):
    """Writes the tree of `rev` into `dest` (nothing is added to .git). An
    export of another revision is replaced; `dest/.rev` names the one there."""
    stamp = os.path.join(dest, ".rev")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == rev:
                return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    with open(stamp, "w") as f:
        f.write(rev + "\n")


def share_corpus(change, parent):
    src = os.path.join(change, ".perfbench", "corpus")
    os.makedirs(src, exist_ok=True)
    dst = os.path.join(parent, ".perfbench", "corpus")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if not os.path.lexists(dst):
        os.symlink(src, dst)


def run(side, root, workload, seed, seconds, trace):
    """One perfbench run; returns its result line (a dict)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"ab_pairs: {side} run (seed {seed}) exited {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    print(f"  {side:6s} seed {seed}: correct={res['correct']} failed={res['failed']} " +
          " ".join(f"{k}={v['value']:.3f}" for k, v in sorted(res["metrics"].items())),
          flush=True)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, end_to_end):
    rows = []
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum((c < a) if lower else (c > a) for a, c in zip(par, chg))
        mp, mc = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(par)
        gain = (mp - mc) if lower else (mc - mp)
        rows.append({
            "metric": name, "unit": m["unit"], "bound": m["bound"],
            "parent": {"median": mp, "q1": q1, "q3": q3, "values": par},
            "change": dict(zip(("median", "q1", "q3"), (mc,) + quartiles(chg)), values=chg),
            "change_wins": wins, "pairs": len(pairs), "rel_change": mc / mp - 1,
            "beats_parent_spread": gain > q3 - q1,
            "claimable": wins >= 0.9 * len(pairs) and gain > q3 - q1,
            "within_bound": (mc / mp - 1 if lower else 1 - mc / mp) <= m["bound"],
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds, one pair each")
    ap.add_argument("--workdir", help="where the parent is exported; kept when given")
    ap.add_argument("--traced", action="store_true",
                    help="add one traced run per side and diff them with layerdiff.py")
    args = ap.parse_args()
    change = os.getcwd()
    if not os.path.exists(os.path.join(change, "BENCHMARK.json")):
        raise SystemExit("ab_pairs: no BENCHMARK.json here; run from the repository root")
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",") if s.strip()]
    rev = subprocess.run(["git", "rev-parse", "--short", args.parent], check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    workdir = args.workdir or tempfile.mkdtemp(prefix="ab_pairs-")
    parent = os.path.join(workdir, "parent")
    try:
        export(rev, parent)
        share_corpus(change, parent)
        roots = {"parent": parent, "change": change}
        pairs = []
        for i, seed in enumerate(seeds):
            print(f"pair {i + 1}/{len(seeds)} (seed {seed})", flush=True)
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pairs.append({"seed": seed, "first": order[0], **{
                side: run(side, roots[side], args.workload, seed, seconds, 0) for side in order}})
        rows = summarize(pairs, bench["end_to_end"])
        print(f"\n{args.workload}: {rev} (parent) vs working tree, {len(pairs)} pairs")
        print(f"{'metric':12s} {'parent median [q1, q3]':>28s} {'change median [q1, q3]':>28s}"
              f" {'delta':>7s} {'wins':>6s}  verdict")
        for r in rows:
            p, c = r["parent"], r["change"]
            verdict = ("gain" if r["claimable"] else
                       "within bound" if r["within_bound"] else "OVER BOUND")
            print(f"{r['metric']:12s} {p['median']:10.3f} [{p['q1']:.3f}, {p['q3']:.3f}]"
                  f" {c['median']:10.3f} [{c['q1']:.3f}, {c['q3']:.3f}] "
                  f"{r['rel_change']:+7.1%} {r['change_wins']:>3d}/{r['pairs']:<2d}  {verdict}")
        failed = {s: sum(p[s]["failed"] for p in pairs) for s in roots}
        incorrect = {s: sum(not p[s]["correct"] for p in pairs) for s in roots}
        print(f"failed runs: {failed}; incorrect runs: {incorrect}")
        summary = {"workload": args.workload, "parent": rev, "seconds": seconds,
                   "pairs": pairs, "metrics": rows, "failed": failed, "incorrect": incorrect}
        if args.traced:
            for side in ("parent", "change"):
                run(side, roots[side], args.workload, seeds[0], seconds, 1)
            trace = f"{args.workload}-seed{seeds[0]}-trace1.json"
            diff = subprocess.run(
                [sys.executable, "perfbench/layerdiff.py",
                 os.path.join(parent, ".perfbench", "traces", trace),
                 os.path.join(change, ".perfbench", "traces", trace)],
                cwd=change, stdout=subprocess.PIPE, text=True)
            print(diff.stdout)
            summary["layerdiff"] = diff.stdout
        out = os.path.join(change, ".perfbench", "ab", f"{args.workload}-{rev}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"summary: {os.path.relpath(out, change)}")
    finally:
        if not args.workdir:
            shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
