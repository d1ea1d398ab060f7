#!/usr/bin/env python3
"""Closed-loop benchmark of the registered entries (see perfbench/README.md).

Usage, from the repository root:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates and checks
the workload's corpus (perfbench/gen_corpus.py), then runs one JVM that
sets up several times, checks every entry's output hash once and measures
whole passes for S seconds. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything the run writes stays under .perfbench/ in the working directory.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_corpus  # noqa: E402

SETUPS = 3          # set-ups per run; setup_s is their median
MIN_PASSES = 3      # measured passes per untraced run, at least
RUN_TIMEOUT_S = 170  # a run must end within 180 s
ORDERS = 64         # permutations handed to the JVM; passes cycle through them
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def orders(entries, seed, n=ORDERS):
    """The entry order of each pass: a seeded permutation per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        p = list(entries)
        rng.shuffle(p)
        out.append(p)
    return out


def generate_corpus(path, copies):
    shutil.rmtree(path, ignore_errors=True)
    gen_corpus.write(path, copies)
    open(os.path.join(path, "COMPLETE"), "w").close()


def ensure_corpus(root, name, spec):
    """Generates the corpus once per checkout and checks its sha256 values."""
    path = os.path.join(root, build.OUT, "corpus", name)
    if not os.path.exists(os.path.join(path, "COMPLETE")):
        generate_corpus(path, spec["copies"])
    got = gen_corpus.sha256s(path)
    bad = sorted(t for t in got if got[t] != spec["sha256"].get(t))
    if bad:
        raise SystemExit(f"perfbench: corpus {name} differs from its recorded sha256 in {bad}")
    return path


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, plan, workdir, timeout):
    plan_path = os.path.join(workdir, "plan.txt")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            if isinstance(v, list):
                f.writelines(f"{k}.{i}={','.join(x)}\n" for i, x in enumerate(v))
            else:
                f.write(f"{k}={v}\n")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xms2g", "-Xmx4g", "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={workdir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens + \
          ["-cp", os.pathsep.join(cp), "perfbench.Harness", plan_path]
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    with open(os.path.join(workdir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {timeout:.0f} s")
    if code != 0:
        with open(os.path.join(workdir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(plan["out"]) as f:
        return json.load(f)


def host_cpu():
    """(steal, total) jiffies of the host so far, to explain noisy runs."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(out):
    measured = out["passes"]
    lat = [e["build_s"] + e["plan_s"] + e["exec_s"]
           for p in measured for e in p["entries"] if e["ok"]]
    return {
        "setup_s": (median(out["setup_s"]), "s"),
        "pass_s": (median([p["wall_s"] for p in measured]), "s"),
        "query_p50_s": (median(lat), "s"),
        "peak_rss_mb": (out["peak_rss_mb"], "MB"),
    }, len(lat)


def per_layer(out, spec):
    traced = [p for p in out["passes"] if p["traced"]]
    plain = [p for p in out["passes"] if not p["traced"]]
    metrics = {}
    for m in spec:
        name = m["name"]
        if name == "trace_overhead_frac":
            v = median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in plain]) - 1
        else:
            v = median([p["layers"][name] for p in traced])
        metrics[name] = (v, m["unit"])
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-entry", default="",
                    help="make this entry throw (self-test of the failure count)")
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        raise SystemExit("perfbench: no BENCHMARK.json here; run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = load("workloads.json")
    expected = load("expected.json")
    if args.workload not in workloads["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    wl = workloads["workloads"][args.workload]
    cp = build.ensure_built(root)
    corpus = ensure_corpus(root, wl["corpus"], expected["corpora"][wl["corpus"]])
    hashes = expected["outputs"][args.workload]

    workdir = os.path.join(root, build.OUT, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    plan = {
        "mode": "bench", "corpus": corpus, "workdir": workdir, "cpus": cpus(),
        "setups": SETUPS, "seconds": args.seconds, "min_passes": MIN_PASSES,
        "trace": args.trace, "entries": ",".join(wl["entries"]),
        "expected": ",".join(f"{k}:{v}" for k, v in hashes.items()),
        "fail_entry": args.fail_entry, "out": os.path.join(workdir, "out.json"),
        "launch_ms": int(time.time() * 1000), "order": orders(wl["entries"], args.seed),
    }
    steal0, total0 = host_cpu()
    try:
        out = run_jvm(cp, plan, workdir, max(60.0, RUN_TIMEOUT_S - (time.time() - t_start)))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    steal1, total1 = host_cpu()
    if args.trace:
        metrics = per_layer(out, bench["per_layer"])
        samples = None
    else:
        metrics, samples = end_to_end(out)
    failed = len(out["failures"])
    checked = set(out["hashes"])
    correct = failed == 0 and checked == set(wl["entries"])
    trace_dir = os.path.join(root, build.OUT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "latency_samples": samples,
                   "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                   "metrics": {k: v for k, (v, _) in metrics.items()}, "run": out}, f, indent=1)
    for fl in out["failures"]:
        print(f"perfbench: {fl['entry']} failed in {fl['where']}: {fl['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": out["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
