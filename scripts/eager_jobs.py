#!/usr/bin/env python3
"""Eager jobs of each set-up and each query's construction, from a traced
perfbench run.

  python3 perfbench/run.py --workload ops_iterative --trace 1
  python3 scripts/eager_jobs.py [.bench_build/perfbench/run/records.jsonl]

First, one line per set-up k (a new session plus the catalog load,
`sources.register`): its ms, its job count and each job's call site, with
repeated sites counted (`xN`); parquet schema inference shows up here.
Then, for the last traced construction span of each query, one line per
Spark job the span fired (call site, ms, tasks, shuffle read/write bytes)
and the span's totals: the jobs that run before a DataFrame is returned,
which is where a repeated corpus scan or a per-round loop job shows up.
Construction is `ops.construct` for the ops entries and `prql.lower` (the
PRQL compiler, e.g. the rounds of a `loop`) for the pq_cli queries.
"""
import json
import sys
from collections import Counter

path = sys.argv[1] if len(sys.argv) > 1 else ".bench_build/perfbench/run/records.jsonl"
recs = [json.loads(line) for line in open(path)]


def jobs_of(span):
    return sorted((j for j in recs if j["kind"] == "job" and j["span"] == span["id"]),
                  key=lambda j: j["start_ms"])


setups = [r for r in recs if r["kind"] == "span" and r["name"] == "sources.register" and r["query"] == ""]
for k, span in enumerate(setups, 1):
    sites = Counter(j["site"] for j in jobs_of(span))
    print(f"setup {k}  sources.register {span['ms']:.0f} ms  {sum(sites.values())} jobs"
          + "".join(f"  {site} x{n}" for site, n in sites.items()))

last = {}
for r in recs:
    if r["kind"] == "span" and r["name"] in ("ops.construct", "prql.lower"):
        last[r["query"]] = r
for q, span in sorted(last.items()):
    jobs = jobs_of(span)
    print(f"{q}  pass {span['pass']}  {span['name']} {span['ms']:.0f} ms")
    print(f"  {'site':60s} {'ms':>6s} {'tasks':>5s} {'shuf_rd':>9s} {'shuf_wr':>9s}")
    for j in jobs:
        print(f"  {j['site'][:60]:60s} {j['end_ms'] - j['start_ms']:6d} {j['tasks']:5d} "
              f"{j['shuffle_read']:9d} {j['shuffle_write']:9d}")
    print(f"  {'total: ' + str(len(jobs)) + ' jobs':60s} "
          f"{sum(j['end_ms'] - j['start_ms'] for j in jobs):6d} "
          f"{sum(j['tasks'] for j in jobs):5d} {sum(j['shuffle_read'] for j in jobs):9d} "
          f"{sum(j['shuffle_write'] for j in jobs):9d}")
