#!/usr/bin/env python3
"""Records the benchmark's expected values in perfbench/expected.json:
the sha256 of every generated corpus file and the output hash of every
workload entry. A hash is recorded only for an entry whose output the
DuckDB oracle compare (tools/local_verify.py) matched on the same corpus;
an entry without a match fails the recording.

Usage, from the repository root:
  python3 perfbench/record.py [workload ...]
Run it again when a workload's entries or the corpus generator change.
"""
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_corpus  # noqa: E402
import run  # noqa: E402


def main(names):
    root = os.getcwd()
    workloads = run.load("workloads.json")
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {"corpora": {}, "outputs": {}}
    names = names or list(workloads["workloads"])
    expected["outputs"] = {k: v for k, v in expected["outputs"].items() if k in workloads["workloads"]}
    cp = build.ensure_built(root)
    ok = True
    for corpus_name in sorted({workloads["workloads"][n]["corpus"] for n in names}):
        spec = workloads["corpora"][corpus_name]
        cdir = os.path.join(root, build.OUT, "corpus", corpus_name)
        run.generate_corpus(cdir, spec["copies"])
        expected["corpora"][corpus_name] = {"copies": spec["copies"], "sha256": gen_corpus.sha256s(cdir)}
    for name in names:
        wl = workloads["workloads"][name]
        cdir = os.path.join(root, build.OUT, "corpus", wl["corpus"])
        workdir = os.path.join(root, build.OUT, "record", name)
        shutil.rmtree(workdir, ignore_errors=True)
        os.makedirs(workdir)
        plan = {"mode": "dump", "corpus": cdir, "workdir": workdir, "cpus": run.cpus(),
                "entries": ",".join(wl["entries"]), "dump": os.path.join(workdir, "dump"),
                "out": os.path.join(workdir, "out.json"), "launch_ms": int(time.time() * 1000),
                "order": [wl["entries"]]}
        out = run.run_jvm(cp, plan, workdir, timeout=3600)
        env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(wl["entries"]))
        res = subprocess.run([sys.executable, os.path.join(root, "tools", "local_verify.py"),
                              cdir, plan["dump"]], env=env, stdout=subprocess.PIPE, text=True)
        print(res.stdout)
        matched = {line.split()[1].rstrip(":") for line in res.stdout.splitlines()
                   if line.startswith("ok ")}
        missing = [e for e in wl["entries"] if e not in matched or e not in out["hashes"]]
        if missing:
            print(f"{name}: no oracle match for {missing}; nothing recorded", file=sys.stderr)
            ok = False
            continue
        expected["outputs"][name] = {e: out["hashes"][e] for e in wl["entries"]}
    shutil.rmtree(os.path.join(root, build.OUT, "record"), ignore_errors=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
