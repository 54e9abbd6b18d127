#!/usr/bin/env python3
"""Self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py [--seed N]

1. Each input generator gives byte-identical files for one seed and
   different files for another.
2. Two traced registry-small runs of the same code and seed report
   exactly the same counts for scheduler.jobs, scheduler.tasks,
   shuffle.write_mb and queries.build_jobs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import gen
import run

EXACT = ["scheduler.jobs", "scheduler.tasks", "shuffle.write_mb", "queries.build_jobs"]


def generators(seed):
    base = os.path.join(run.BUILD, "selftest")
    cases = {"tables": gen.tables, "seoul": gen.seoul}
    ok = True
    try:
        for name, make in cases.items():
            digests = []
            for i, s in enumerate([seed, seed, seed + 1]):
                d = os.path.join(base, f"{name}-{i}")
                make(d, s)
                digests.append(run.digest_dir(d))
            good = digests[0] == digests[1] != digests[2]
            ok &= good
            print(f"{'PASS' if good else 'FAIL'} generator {name}: same seed same bytes, "
                  f"other seed other bytes")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return ok


def traced_counts(seed):
    runs = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "registry-small",
             "--seed", str(seed), "--seconds", "10", "--trace", "1"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        runs.append(json.loads(out.strip().splitlines()[-1]))
    ok = all(r["correct"] for r in runs)
    print(f"{'PASS' if ok else 'FAIL'} traced registry-small outputs correct")
    for m in EXACT:
        a, b = (r["metrics"][m]["value"] for r in runs)
        print(f"{'PASS' if a == b else 'FAIL'} {m} repeats exactly: {a} / {b}")
        ok &= a == b
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    ok = generators(seed) & traced_counts(seed)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
