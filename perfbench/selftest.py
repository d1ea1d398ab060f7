#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

Usage, from the repository root: python3 perfbench/selftest.py [--quick]

1. The same seed gives the same entry orders; another seed other orders.
2. The recorded corpus sha256 values match a fresh generation.
3. An entry forced to throw is counted in `failed` and clears `correct`.
4. Two traced runs with different seeds give identical per-layer counts
   (perfbench/layerdiff.py on the two trace files, counts only).
--quick runs 1 and 2 only; 3 and 4 start the benchmark (about 3 min).
"""
import json
import os
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_corpus  # noqa: E402
import run  # noqa: E402

WORKLOAD = "warehouse"


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
                        "--seconds", "1"] + list(args),
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_orders():
    entries = run.load("workloads.json")["workloads"][WORKLOAD]["entries"]
    assert run.orders(entries, 7) == run.orders(entries, 7)
    assert run.orders(entries, 7) != run.orders(entries, 8)
    assert all(sorted(o) == sorted(entries) for o in run.orders(entries, 7))


def test_corpus():
    expected = run.load("expected.json")["corpora"]["base"]
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as d:
        gen_corpus.write(d, expected["copies"])
        assert gen_corpus.sha256s(d) == expected["sha256"]


def test_failure_counted():
    entries = run.load("workloads.json")["workloads"][WORKLOAD]["entries"]
    res = bench("--seed", "1", "--trace", "0", "--fail-entry", entries[0])
    assert res["correct"] is False, res
    assert res["failed"] >= 1 and res["attempted"] > res["failed"], res


def test_traced_counts_repeat():
    for seed in (1, 2):
        res = bench("--seed", str(seed), "--trace", "1")
        assert res["correct"] is True, res
    traces = os.path.join(os.getcwd(), ".perfbench", "traces")
    r = subprocess.run([sys.executable, os.path.join(HERE, "layerdiff.py"),
                        os.path.join(traces, f"{WORKLOAD}-seed1-trace1.json"),
                        os.path.join(traces, f"{WORKLOAD}-seed2-trace1.json"), "--bound", "1e9"],
                       stdout=subprocess.PIPE, text=True)
    assert r.returncode == 0, r.stdout


if __name__ == "__main__":
    tests = [test_orders, test_corpus]
    if "--quick" not in sys.argv:
        tests += [test_failure_counted, test_traced_counts_repeat]
    for t in tests:
        t()
        print(f"ok   {t.__name__}")
