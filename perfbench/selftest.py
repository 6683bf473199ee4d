#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (sf0.001 tables, 500-frame
poll deliveries). Takes a few minutes.

    python3 perfbench/selftest.py

Checks, for every workload:
  - an untraced run prints every end-to-end metric of BENCHMARK.json, with
    its unit, and answers correctly (failed = 0, so failed_frac = 0);
  - a traced run prints every per-layer metric, with its unit;
and that a corrupted expected digest is reported as a failed operation.
Exits non-zero on the first check that does not hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny"] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit("FAIL %s: exit code %d" % (" ".join(cmd[2:]), p.returncode))
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(res, declared, label):
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    expect(set(got) == set(want), "%s prints exactly the declared metrics" % label)
    expect(all(got[n]["unit"] == u for n, u in want.items()),
           "%s prints every metric with its declared unit" % label)
    expect(all(isinstance(got[n]["value"], (int, float)) for n in want),
           "%s prints a number for every metric" % label)


def main():
    for w in (x["name"] for x in SPEC["workloads"]):
        res = run(w, 0)
        check_metrics(res, SPEC["end_to_end"], w + " untraced")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
               "%s answers correctly (failed_frac = 0 of %d)" % (w, res["attempted"]))
        res = run(w, 1)
        check_metrics(res, SPEC["per_layer"], w + " traced")
        expect(res["failed"] == 0, "%s traced run answers correctly" % w)
    res = run("batch", 0, "--corrupt-digest", "s1_time_range_scan")
    expect(not res["correct"] and res["failed"] == 1,
           "a corrupted expected digest counts as one failed operation")
    print("selftest passed")


if __name__ == "__main__":
    main()
