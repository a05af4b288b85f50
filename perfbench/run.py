#!/usr/bin/env python3
"""Benchmark of the PRQL-to-Spark engine: builds it from source, runs one
workload in a fresh JVM, checks every answer against DuckDB and prints the
metrics. See perfbench/README.md for the workloads and metrics.

  python3 perfbench/run.py --workload pq_cli --seed 1 --seconds 8 --trace 0
  python3 perfbench/run.py --workload all --seed 1        # every workload
  python3 perfbench/run.py --workload ops_shuffle --steady 10   # spread

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import hashlib
import json
import os
import pickle
import platform
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import check

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
DATA = Path("/root/testdata/sf0.1")
WORKLOADS = ["pq_cli", "ops_iterative", "ops_shuffle"]
JVM_TIMEOUT_S = 150
HEAP = "2g"

END_TO_END = {
    "setup_s": "s", "suite_s": "s", "latency_p50_s": "s",
    "latency_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "prql.parse_ms": "ms", "prql.lower_ms": "ms",
    "sources.register_ms": "ms", "sources.register_jobs": "count",
    "sources.scan_jobs": "count", "sources.scan_ms": "ms",
    "ops.construct_ms": "ms", "ops.eager_jobs": "count",
    "ops.eager_tasks": "count", "ops.eager_task_ms": "ms",
    "ops.eager_empty_task_ratio": "1",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.empty_task_ratio": "1", "exec.sched_wait_ms": "ms",
    "io.write_ms": "ms", "io.commit_ms": "ms", "io.bytes_written": "bytes",
    "io.rows_written": "count",
    "share.construct": "1", "share.plan": "1", "share.exec": "1",
    "share.io": "1", "trace.overhead_ratio": "1",
}
# Spark 4 on JDK 17 needs these when the session is made outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
SCAN_SITE = re.compile(r"^(parquet|csv|json|orc|load|table) at ")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# --- build ---------------------------------------------------------------

def fingerprint():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Compiles the engine and the benchmark with sbt, offline, once per
    source state; returns the class path to run the benchmark with."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"engine sources not found under {ROOT}: this benchmark builds "
             "the engine from the repository it sits in")
    stamp, cp_file = WORK / "build.sha256", WORK / "classpath.txt"
    key = fingerprint()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == key:
        return cp_file.read_text()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building the engine and the benchmark with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:], r.stderr[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(key)
    return cp


# --- one JVM run ---------------------------------------------------------

def steal_s():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(cp, workload, seed, seconds, trace, cores):
    """Runs one workload in a fresh JVM; returns (set-up times, records)."""
    rundir = WORK / "run"
    shutil.rmtree(rundir, ignore_errors=True)
    (rundir / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed heap, touched at start, so that peak RSS moves with the
           # memory outside the heap rather than with when the GC ran
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={rundir / 'tmp'}", "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", str(DATA), "--work", str(rundir),
              "--cores", str(cores)])
    ready = []
    with open(rundir / "stderr.log", "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=rundir, stdin=subprocess.DEVNULL)
        timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            done = False
            for line in proc.stdout:
                if line.startswith("PERFBENCH READY"):
                    ready.append(time.monotonic())
                elif line.startswith("PERFBENCH DONE"):
                    done = True
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not done or len(ready) != 3:
        log((rundir / "stderr.log").read_text()[-3000:])
        why = f"killed at the {JVM_TIMEOUT_S} s limit" if code == -9 else f"exited with code {code}"
        fail(f"{workload}: JVM {why}")
    setups = [b - a for a, b in zip([t0] + ready, ready)]
    records = [json.loads(l) for l in open(rundir / "records.jsonl")]
    return setups, records, rundir


# --- metrics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(jobs):
    """Wall time covered by a set of jobs, overlaps counted once."""
    total, end = 0, None
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        s, e = j["start_ms"], j["end_ms"]
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


def tail(walls):
    """The highest percentile with at least ten samples beyond it. Below 20
    samples that percentile would not be above the median, so the slowest
    sample stands in."""
    xs = sorted(walls)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(setups, records):
    passes = [r for r in records if r["kind"] == "pass" and not r["traced"]]
    queries = [r for r in records if r["kind"] == "query"
               and r["pass"] in {p["pass"] for p in passes}]
    walls = [q["wall_ms"] / 1e3 for q in queries]
    t, pct, n = tail(walls)
    end = next(r for r in records if r["kind"] == "end")
    metrics = {
        "setup_s": median(setups),
        "suite_s": median([p["wall_ms"] / 1e3 for p in passes]),
        "latency_p50_s": median(walls),
        "latency_tail_s": t,
        "cpu_s": median([p["cpu_ms"] / 1e3 for p in passes]),
        "peak_rss_mb": end["peak_rss_mb"],
    }
    return metrics, {"tail_percentile": round(pct, 1), "samples": n,
                     "passes_s": [round(p["wall_ms"] / 1e3, 3) for p in passes],
                     "setups_s": [round(s, 3) for s in setups]}


def per_layer(records):
    """Per-layer metrics from the traced passes: each is a total over one
    pass of the pool, median over traced passes."""
    spans = {r["id"]: r for r in records if r["kind"] == "span"}
    jobs_of = {}
    for j in (r for r in records if r["kind"] == "job"):
        jobs_of.setdefault(j["span"], []).append(j)
    passes = [r for r in records if r["kind"] == "pass"]
    traced = [p["pass"] for p in passes if p["traced"]]
    plain = [p["wall_ms"] for p in passes if not p["traced"]]

    setup_regs = [s for s in spans.values() if s["name"] == "sources.register"]
    out_per_pass = []
    for p in traced:
        m = dict.fromkeys(PER_LAYER, 0.0)
        ps = [s for s in spans.values() if s["pass"] == p]
        wall = sum(s["ms"] for s in ps if s["name"] == "query")
        eager_tasks = eager_empty = exec_tasks = exec_empty = sink_rest = plan_ms = 0
        for s in ps:
            name, js = s["name"], jobs_of.get(s["id"], [])
            if name == "prql.parse":
                m["prql.parse_ms"] += s["ms"]
            elif name == "prql.lower":
                m["prql.lower_ms"] += s["ms"]
            elif name == "ops.construct":
                m["ops.construct_ms"] += s["ms"]
                m["ops.eager_jobs"] += len(js)
                m["ops.eager_task_ms"] += sum(j["task_ms"] for j in js)
                eager_tasks += sum(j["tasks"] for j in js)
                eager_empty += sum(j["empty_tasks"] for j in js)
            elif name in ("exec", "io.write"):
                busy = union_ms(js)
                m["exec.ms"] += busy
                m["exec.jobs"] += len(js)
                for k, f in (("exec.stages", "stages"), ("exec.tasks", "tasks"),
                             ("exec.task_ms", "task_ms"), ("exec.cpu_ms", "cpu_ms"),
                             ("exec.gc_ms", "gc_ms"), ("exec.sched_wait_ms", "wait_ms"),
                             ("exec.shuffle_read_bytes", "shuffle_read"),
                             ("exec.shuffle_write_bytes", "shuffle_write"),
                             ("exec.spill_bytes", "spill")):
                    m[k] += sum(j[f] for j in js)
                exec_tasks += sum(j["tasks"] for j in js)
                exec_empty += sum(j["empty_tasks"] for j in js)
                sink_rest += s["ms"] - busy
                if name == "io.write":
                    m["io.write_ms"] += s["ms"]
                    m["io.commit_ms"] += s["ms"] - busy
                    m["io.bytes_written"] += sum(j["bytes_out"] for j in js)
                    m["io.rows_written"] += sum(j["rows_out"] for j in js)
            elif name == "plans":
                plan_ms += s["ms"]
            if name in ("ops.construct", "prql.lower"):
                scans = [j for j in js if SCAN_SITE.match(j["site"])]
                m["sources.scan_jobs"] += len(scans)
                m["sources.scan_ms"] += union_ms(scans)
        for r in records:
            if r["kind"] == "phases" and r["pass"] == p:
                for ph in ("analysis", "optimization", "planning"):
                    m[f"plans.{ph}_ms"] += r[ph]
        m["ops.eager_tasks"] = eager_tasks
        m["ops.eager_empty_task_ratio"] = eager_empty / eager_tasks if eager_tasks else 0.0
        m["exec.empty_task_ratio"] = exec_empty / exec_tasks if exec_tasks else 0.0
        construct = m["ops.construct_ms"] + m["prql.parse_ms"] + m["prql.lower_ms"]
        m["share.construct"] = construct / wall
        m["share.plan"] = plan_ms / wall
        m["share.exec"] = m["exec.ms"] / wall
        m["share.io"] = sink_rest / wall
        out_per_pass.append(m)
    result = {k: median([m[k] for m in out_per_pass]) for k in PER_LAYER}
    result["sources.register_ms"] = median([s["ms"] for s in setup_regs])
    result["sources.register_jobs"] = median(
        [len(jobs_of.get(s["id"], [])) for s in setup_regs])
    traced_walls = [next(x["wall_ms"] for x in passes if x["pass"] == p) for p in traced]
    result["trace.overhead_ratio"] = median(traced_walls) / median(plain)
    return result


# --- answers -------------------------------------------------------------

def expected(rundir):
    """Oracle results for the pool, computed once per SQL text and kept."""
    sqls = json.loads((rundir / "oracle.json").read_text())
    cache = WORK / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    out, con = {}, None
    for name, sql in sqls.items():
        f = cache / (hashlib.sha256((str(DATA) + "\n" + sql).encode()).hexdigest() + ".pkl")
        if not f.is_file():
            if con is None:
                con = check.connect(DATA)
            tmp = f.with_suffix(".tmp")
            tmp.write_bytes(pickle.dumps(check.oracle_result(con, sql)))
            tmp.replace(f)
        out[name] = pickle.loads(f.read_bytes())
    return out


def wrong_answers(workload, rundir, records):
    """Names of the pool entries whose output differs from the oracle,
    with the reason."""
    exp = expected(rundir)
    bad = {}
    if workload == "pq_cli":
        seen = {(r["query"], r["format"]) for r in records
                if r["kind"] == "query" and r["error"] is None}
        for q, fmt in sorted(seen):
            why = check.compare_file(rundir / "out" / f"{q}.{fmt}", fmt, exp[q])
            if why:
                bad[q] = f"{fmt}: {why}"
    else:
        for q in exp:
            files = sorted((rundir / "dump" / q).glob("*.parquet"))
            why = (check.compare_file(files[0], "parquet", exp[q]) if files
                   else "no dump written")
            if why:
                bad[q] = why
    return bad


# --- main ----------------------------------------------------------------

def one_run(cp, workload, seed, seconds, trace, cores):
    t0, steal0 = time.monotonic(), steal_s()
    setups, records, rundir = run_jvm(cp, workload, seed, seconds, trace, cores)
    queries = [r for r in records if r["kind"] == "query"]
    bad = wrong_answers(workload, rundir, records)
    failed = [q for q in queries if q["error"] is not None or q["query"] in bad]
    for q in queries:
        if q["error"]:
            log(f"perfbench: {workload} {q['query']} threw {q['error']}")
    for q, why in bad.items():
        log(f"perfbench: {workload} {q} wrong answer: {why}")
    e2e, meta = end_to_end(setups, records)
    meta.update(workload=workload, seed=seed, cores=cores,
                steal_s=round(steal_s() - steal0, 2), run_s=round(time.monotonic() - t0, 1),
                failed_ratio=len(failed) / len(queries))
    if trace:
        metrics, units = per_layer(records), PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    return {"correct": not bad and not failed, "attempted": len(queries),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}, meta


def metadata():
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or commit
    except OSError:
        pass
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"commit": commit, "nproc": len(os.sched_getaffinity(0)),
            "java": java.splitlines()[0] if java else "unknown",
            "python": platform.python_version()}


def show(res, meta):
    print("# " + json.dumps(meta, sort_keys=True))
    for k, m in res["metrics"].items():
        print(f"{meta['workload']:14s} {k:28s} {m['value']:14.4f} {m['unit']}")
    if "share.construct" in res["metrics"]:
        shares = " ".join(f"{k.split('.')[1]}={res['metrics'][k]['value']:.3f}"
                          for k in ("share.construct", "share.plan", "share.exec", "share.io"))
        print(f"{meta['workload']:14s} layer shares of traced wall: {shares}; "
              f"trace.overhead_ratio={res['metrics']['trace.overhead_ratio']['value']:.3f}")
    print(f"{meta['workload']:14s} answers: {'correct' if res['correct'] else 'WRONG'}, "
          f"{res['failed']} of {res['attempted']} queries failed")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="repeat the run this many times, seeds seed..seed+N-1, "
                         "and print each metric's median and quartiles")
    a = ap.parse_args()
    if not DATA.is_dir():
        fail(f"test data not found at {DATA}")
    cp = classpath()
    cores = len(os.sched_getaffinity(0))
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    base = metadata()
    if a.steady:
        for w in workloads:
            runs = []
            for i in range(a.steady):
                res, meta = one_run(cp, w, a.seed + i, a.seconds, a.trace, cores)
                show(res, {**base, **meta})
                runs.append(res)
            print(f"# steadiness of {w} over {a.steady} runs: median q1 q3 (q3-q1)/median")
            for k in runs[0]["metrics"]:
                q1, med, q3 = quartiles([r["metrics"][k]["value"] for r in runs])
                print(f"{w:14s} {k:28s} {med:14.4f} {q1:14.4f} {q3:14.4f} "
                      f"{(q3 - q1) / med if med else 0:8.4f}")
        return
    results = []
    for w in workloads:
        res, meta = one_run(cp, w, a.seed, a.seconds, a.trace, cores)
        show(res, {**base, **meta})
        results.append((w, res))
    if len(results) == 1:
        final = results[0][1]
    else:
        final = {"correct": all(r["correct"] for _, r in results),
                 "attempted": sum(r["attempted"] for _, r in results),
                 "failed": sum(r["failed"] for _, r in results),
                 "metrics": {f"{w}.{k}": v for w, r in results for k, v in r["metrics"].items()}}
    print(json.dumps(final))


if __name__ == "__main__":
    main()
