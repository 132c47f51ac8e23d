#!/usr/bin/env python3
"""Chooses a workload's query subset from a traced run of its full set.

  python3 perfbench/run.py --workload etl_sql_full --seed 1 --trace 1
  python3 perfbench/choose.py perfbench/results/etl_sql_full-seed1-trace1.json \\
      --cold-s 6 --warm-s 2.3 [--one-of p3_dedup_pipeline,p5_pipeline_spec ...]

It picks the subset whose profile is nearest to the full set's while its
cold pass and warm pass stay within the given seconds, and prints both
profiles side by side. The profile of a set of queries is:
- the share of its summed warm query time spent in each layer: ops.build
  self time, Catalyst phases, Spark jobs, driver time, task CPU, and the
  addBatch and commit phases of streaming triggers;
- the share of its warm time spent in each family of queries: writes, and
  the rest by name prefix (j joins, p dialect and pipelines, e streams,
  l LLM operators, g graphs);
- its cold-to-warm time ratio and its median warm query latency.
The search is deterministic: greedy forward selection until the budget is
full, then single swaps while they bring the profile nearer.
"""
import argparse
import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SHARES = ["ops.build_self_ms", "catalyst_ms", "in_jobs_ms", "driver.ms", "exec.cpu_ms",
          "streaming.addbatch_ms", "streaming.commit_ms"]
FAMILIES = ["write", "j", "p", "e", "l", "g"]


def query_profiles(record):
    """Per query: warm layer times (ms) from the traced warm passes, and the
    cold and warm wall times (s) of the untraced timing."""
    totals = {}
    for s in record["spans"]:
        if s["name"] == "query" and s["pass_"] != 1:
            totals.setdefault(s["query"], []).append(s["end"] - s["start"])
    out = {}
    for n, split in record["per_query_layers"].items():
        w = split["warm_median"]
        total = statistics.median(totals[n])
        out[n] = {
            "total_ms": total,
            "ops.build_self_ms": w["ops.build_self_ms"],
            "catalyst_ms": (w["catalyst.analysis_ms"] + w["catalyst.optimization_ms"]
                            + w["catalyst.planning_ms"]),
            "in_jobs_ms": max(0.0, total - w["scheduler.outside_jobs_ms"]),
            "driver.ms": w["driver.ms"],
            "exec.cpu_ms": w["exec.cpu_ms"],
            "streaming.addbatch_ms": w["streaming.addbatch_ms"],
            "streaming.commit_ms": w["streaming.commit_ms"],
            "cold_s": record["queries"][n]["cold_s"],
            "warm_s": record["queries"][n]["warm_median_s"],
            "write": n in run.WRITES,
            "family": "write" if n in run.WRITES else n[0],
        }
    return out


def profile(qs, prof):
    total = sum(prof[q]["total_ms"] for q in qs)
    p = {k: sum(prof[q][k] for q in qs) / total for k in SHARES}
    for fam in FAMILIES:
        p[fam + "_share"] = sum(prof[q]["total_ms"] for q in qs
                                if prof[q]["family"] == fam) / total
    p["cold_over_warm"] = sum(prof[q]["cold_s"] for q in qs) / sum(prof[q]["warm_s"] for q in qs)
    p["warm_p50_s"] = statistics.median(prof[q]["warm_s"] for q in qs)
    return p


def distance(a, b):
    d = sum(abs(a[k] - b[k]) for k in SHARES + [f + "_share" for f in FAMILIES])
    return (d + abs(math.log(a["cold_over_warm"] / b["cold_over_warm"]))
            + abs(math.log(a["warm_p50_s"] / b["warm_p50_s"])))


def choose(prof, cold_s, warm_s, groups=()):
    """groups: lists of query names; the subset keeps one of each."""
    names = sorted(prof)
    target = profile(names, prof)

    def fits(qs):
        return (sum(prof[q]["cold_s"] for q in qs) <= cold_s
                and sum(prof[q]["warm_s"] for q in qs) <= warm_s)

    def covers(qs):
        return all(any(q in g for q in qs) for g in groups)

    def score(qs):
        return distance(profile(qs, prof), target)

    # fill the budget, adding the query that keeps the profile nearest;
    # then swap queries while a swap brings the profile nearer
    best = []
    for g in groups:
        if not any(q in best for q in g):
            best = min(([*best, q] for q in g if fits([*best, q])), key=score)
    while True:
        adds = [best + [q] for q in names if q not in best and fits(best + [q])]
        if not adds:
            break
        best = min(adds, key=score)
    improved = True
    while improved:
        improved = False
        for out in list(best):
            for q in names:
                if q in best:
                    continue
                cand = [x for x in best if x != out] + [q]
                if fits(cand) and covers(cand) and score(cand) < score(best) - 1e-9:
                    best, improved = cand, True
                    break
            if improved:
                break
    return sorted(best), target


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("record")
    ap.add_argument("--cold-s", type=float, required=True, help="cold pass budget")
    ap.add_argument("--warm-s", type=float, required=True, help="warm pass budget")
    ap.add_argument("--one-of", action="append", default=[],
                    help="comma-separated query names; keep one of them (repeatable)")
    args = ap.parse_args()
    with open(args.record) as f:
        prof = query_profiles(json.load(f))
    groups = [g.split(",") for g in args.one_of]
    subset, target = choose(prof, args.cold_s, args.warm_s, groups)
    got = profile(subset, prof)
    print(f"{'profile':24} {'full':>9} {'subset':>9}")
    for k in target:
        print(f"{k:24} {target[k]:9.3f} {got[k]:9.3f}")
    for label, qs in (("full", sorted(prof)), ("subset", subset)):
        print(f"{label}: {len(qs)} queries, {sum(prof[q]['write'] for q in qs)} writes, "
              f"cold {sum(prof[q]['cold_s'] for q in qs):.2f} s, "
              f"warm {sum(prof[q]['warm_s'] for q in qs):.2f} s")
    print("distance", round(distance(got, target), 4))
    print(json.dumps(subset))
    return 0


if __name__ == "__main__":
    sys.exit(main())
