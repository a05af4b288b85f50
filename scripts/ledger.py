#!/usr/bin/env python3
"""Merge N bench_detail.json runs into the BASELINE.md per-query ledger.

Usage: python3 scripts/ledger.py run1.json run2.json run3.json

Emits a markdown table: per query, wall-clock median/min/max AND executor
task_ms median/min/max. The task_ms envelope is what lets a future judge
adjudicate a driver-run outlier in one line: driver wall >2x ledger with
task_ms INSIDE the envelope = host contention (tasks idle-gapped, work
unchanged); task_ms OUTSIDE = the plan genuinely did more work, dig in.
"""
import json
import statistics
import sys


def main(paths: list[str]) -> None:
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    names = sorted(runs[0]["queries"])
    for r in runs[1:]:
        assert sorted(r["queries"]) == names, "runs cover different query sets"

    # single source of truth: Bench.scala emits its twin set into each
    # bench_detail.json — hardcoding a copy here silently skewed
    # production sums whenever a twin was added in only one place
    twin_sets = [set(r["oracle_twins"]) for r in runs]
    assert all(t == twin_sets[0] for t in twin_sets), \
        ("runs disagree on the oracle-twin set (mixed Bench versions?) on "
         f"{sorted(set.union(*twin_sets) - set.intersection(*twin_sets))}. "
         "Bench derives the set from SparkEntry's PinnedBy checks since it "
         "grew from 9 to 12 names (x89_lsh_knn_twin, x90_ivf_knn_twin and "
         "x114_frame_sample_fixed joined), so production_total moved by "
         "those entries' seconds and runs from either side do not mix")
    oracle_twins = twin_sets[0]

    print("| Query | median (s) | min | max | task_ms med | task min | task max |")
    print("|---|---|---|---|---|---|---|")
    med_sum = 0.0
    prod_sum = 0.0
    for n in names:
        secs = [r["queries"][n]["sec"] for r in runs]
        tms = [r["queries"][n]["task_ms"] for r in runs]
        med = statistics.median(secs)
        med_sum += med
        if n not in oracle_twins:
            prod_sum += med
        print(f"| {n} | {med:.3f} | {min(secs):.3f} | {max(secs):.3f} "
              f"| {int(statistics.median(tms))} | {min(tms)} | {max(tms)} |")
    print(f"| **sum of medians** | **{med_sum:.2f}** | | | | | |")
    print(f"| **production sum (excl. oracle twins)** | **{prod_sum:.2f}** | | | | | |")
    totals = [r["total"] for r in runs]
    pars = [r.get("parallelism", 0) for r in runs]
    gcs = [r.get("gc_total_ms", 0) for r in runs]
    print(f"\nRun totals: {' / '.join(f'{t:.2f}' for t in totals)} s; "
          f"parallelism {' / '.join(str(p) for p in pars)}; "
          f"GC totals {' / '.join(str(g) for g in gcs)} ms")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        # a 1-run "median" table looks like a real envelope but isn't —
        # refuse rather than mint a degenerate adjudication artifact
        sys.exit("usage: ledger.py run1.json run2.json [run3.json ...] "
                 "(>= 2 runs; 3 is the BASELINE.md convention)")
    main(sys.argv[1:])
