#!/usr/bin/env python3
"""Summarise and compare benchmark records (perfbench/.out/records.jsonl).

    python3 perfbench/stats.py RECORDS.jsonl              # spread per metric
    python3 perfbench/stats.py BASE.jsonl CHANGE.jsonl    # compare medians

For each workload and end-to-end metric it prints the median, the
quartiles, the spread (quartile distance over the median, as
statistics.quantiles(values, n=4) gives the quartiles) and the metric's
bound from BENCHMARK.json. With two files it also prints the change's
median over the base's and flags a metric that worsened by more than its
bound. Records taken on boxes with a different nproc or master are not
comparable: the script refuses them and exits with code 2.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
E2E = {m["name"]: m for m in SPEC["end_to_end"]}


def load(path):
    recs = [json.loads(l) for l in open(path) if l.strip()]
    return [r for r in recs if r["trace"] == 0]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def by_metric(recs, workload):
    out = {}
    for r in recs:
        if r["workload"] == workload:
            for n, m in r["metrics"].items():
                out.setdefault(n, []).append(m["value"])
    return out


def main(paths):
    sets = [load(p) for p in paths]
    boxes = {(r["nproc"], r["master"]) for recs in sets for r in recs}
    if len(boxes) > 1:
        print("refusing to compare records from different boxes "
              "(nproc, master): %s" % sorted(boxes), file=sys.stderr)
        return 2
    workloads = sorted({r["workload"] for recs in sets for r in recs})
    worse = 0
    for w in workloads:
        base = by_metric(sets[0], w)
        change = by_metric(sets[-1], w) if len(sets) > 1 else None
        for name in sorted(base):
            if name not in E2E or len(base[name]) < 2:
                continue
            bound = E2E[name]["bound"]
            med, q1, q3, spread = summary(base[name])
            line = ("%-6s %-14s n=%-3d median %.4f  q1 %.4f  q3 %.4f  "
                    "spread %.3f (bound %.2f, %s)" % (
                        w, name, len(base[name]), med, q1, q3, spread, bound,
                        "ok" if spread <= bound / 3 else "WIDE"))
            if change and len(change.get(name, [])) >= 2:
                cmed = summary(change[name])[0]
                ratio = cmed / med
                bad = ratio > 1 + bound if E2E[name]["better"] == "lower" \
                    else ratio < 1 - bound
                worse += bad
                line += "  change/base %.3f%s" % (ratio, "  WORSE" if bad else "")
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
