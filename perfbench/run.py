#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the harness from source on first use, writes the
seed's row permutation of the sf0.1 test tables into perfbench/work,
runs the workload's queries through perfbench.Harness (set-up, warm-up,
rounds of one cold and some warm passes for S seconds, an untimed check
pass), compares every result with DuckDB running SparkEntry.oracleSql
through tools/check.py, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. A "PERFBENCH_REPORT" line before it carries the detail: failing and
mismatching query names, sample counts, loadavg at start and end, the CPU
steal share over the run, nproc. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import seedgen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The sf0.1 test tables (TESTDATA.md); override with GRAFT_SF_DIR.
SOURCE_DIR = os.environ.get(
    "GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
RUN_DEADLINE_S = 165    # whole run after the build, harness + oracle check
JVM_HEAP = "3g"         # fixed (-Xms = -Xmx) so heap resizing adds no noise
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """The benchmark could not produce a result."""


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), or None where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(start, end):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings."""
    if not start or not end or len(start) < 8:
        return None
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else None


# ---------------------------------------------------------------- build

def _sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(BENCH, "src", "main", "scala")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build():
    """Compile library + harness with sbt (offline) unless the classes are
    current; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise BenchError("no library sources next to perfbench/")
    digest = hashlib.sha256()
    for f in _sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "perfbench.classpath")
    stamp_file = os.path.join(target, "perfbench.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "perfbench.build.log")
    if os.path.exists(log):
        os.remove(log)
    code = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"], BENCH, env, 700, log)
    with open(log) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- running

def _run(cmd, cwd, env, timeout, log):
    """Run cmd in its own process group, output appended to log. The group
    is killed on timeout or when this process is told to stop, and always
    waited for."""
    with open(log, "a") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            raise BenchError(f"timed out after {timeout:.0f}s: {cmd[0]}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def run_harness(cp, work, data, wl, seed, seconds, trace, deadline, spans):
    nproc = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    jvm = [java] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
        "--data", data, "--tables", ",".join(wl["tables"])]
    log = os.path.join(work, "harness.log")
    check_dir = os.path.join(work, "check")
    os.makedirs(check_dir, exist_ok=True)
    out = os.path.join(work, "report.json")
    launched = time.time()
    code = _run(jvm + ["--queries", ",".join(wl["queries"]),
                       "--seed", str(seed), "--seconds", str(seconds),
                       "--trace", "1" if trace else "0", "--rounds", str(wl["rounds"]),
                       "--warm", str(wl["warm"]),
                       "--check-dir", check_dir, "--workload", wl["name"],
                       "--spans", spans, "--out", out],
                work, env, deadline - time.time(), log)
    if code != 0 or not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise BenchError(f"harness exited with {code}")
    with open(out) as f:
        rep = json.load(f)
    rep["setup_s"] = rep["setup_end_ms"] / 1e3 - launched
    return rep, check_dir


def oracle_check(data, check_dir, names, deadline, work):
    """tools/check.py's comparison (columns, dtypes, order-insensitive
    rows) against DuckDB on the same generated tables. Returns
    {name: None if it matched, else the reason}."""
    log = os.path.join(work, "check.log")
    _run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, check_dir]
         + list(names), ROOT, dict(os.environ), deadline - time.time(), log)
    verdict = {n: "not checked" for n in names}
    with open(log) as f:
        for line in f:
            if line.startswith("PASS "):
                verdict[line.split()[1]] = None
            elif line.startswith("FAIL "):
                name = line.split()[1].rstrip(":")
                verdict[name] = line.strip()[:300]
    return verdict


# ---------------------------------------------------------------- metrics

def _median(xs):
    return statistics.median(xs) if xs else None


def _pct(xs, p):
    if len(xs) < 2:
        return xs[0] if xs else None
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def summarize(rep, verdict, trace):
    """Turn a harness report and the oracle verdicts into the final result
    line and the detail report."""
    passes = rep["passes"]
    executed = [q for p in passes for q in p["queries"]]
    failed = sorted({q["name"] for q in executed if not q["ok"]})
    n_failed = sum(1 for q in executed if not q["ok"])
    attempted = len(executed)
    check_failed = sorted(c["name"] for c in rep["check"] if not c["ok"])
    mismatched = sorted(n for n, why in verdict.items() if why is not None)
    clean = n_failed == 0

    def wall(p):
        return p["wall_s"]

    def latency(q):
        return q["build_s"] + q["plan_s"] + q["exec_s"]

    first = passes[0]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm"]
    cold_traced = [p for p in cold if p["traced"]]
    bare = [p for p in warm if not p["traced"]]
    traced = [p for p in warm if p["traced"]]
    lat = [latency(q) for p in bare for q in p["queries"] if q["ok"]]
    # A failed query never reads as fast: any failure voids the run's makespans.
    e2e = {
        "setup_s": (rep["setup_s"], "s"),
        "cold_s": (_median([wall(p) for p in cold if not p["traced"]]) if clean else None, "s"),
        "warm_s": (_median([wall(p) for p in bare]) if clean else None, "s"),
        "query_p50_s": (_median(lat) if clean else None, "s"),
        "query_p90_s": (_pct(lat, 90) if clean else None, "s"),
        "heap_mb": (rep["heap_bytes_first"] / 1e6, "MB"),
        "ok_frac": (1.0 - n_failed / attempted if attempted else 0.0, "ratio"),
        "match_frac": (1.0 - len(mismatched) / len(verdict) if verdict else 0.0, "ratio"),
    }

    def per_layer():
        def per_pass(f, ps):
            return _median([f(p) for p in ps])

        def c(key, scale=1.0):
            return lambda p: p["counters"].get(key, 0) * scale

        def phase(key):
            return lambda p: sum(q[key] for q in p["queries"])

        builds = per_pass(lambda p: p["layer_builds"], cold_traced)
        reuses = per_pass(lambda p: p["layer_reuses"], cold_traced)
        cores = rep["cpus"]
        layer = {
            "query.build_s": (per_pass(phase("build_s"), traced), "s"),
            "query.jobs_build": (per_pass(c("jobs_build"), traced), "count"),
            "query.plan_s": (per_pass(phase("plan_s"), traced), "s"),
            "query.exec_s": (per_pass(phase("exec_s"), traced), "s"),
            "query.jobs_exec": (per_pass(c("jobs_exec"), traced), "count"),
            "layer.build_s": (per_pass(lambda p: p["layer_build_s"], cold_traced), "s"),
            "layer.builds": (builds, "count"),
            "layer.reuses": (reuses, "count"),
            "layer.hit_ratio": (reuses / (builds + reuses) if builds + reuses else 0.0, "ratio"),
            "layer.cached_bytes": (per_pass(lambda p: p["cached_bytes"], cold_traced), "B"),
            "tables.scan_s": (rep["scan_s"], "s"),
            "tables.input_bytes": (per_pass(c("input_bytes"), cold_traced), "B"),
            "tables.input_records": (per_pass(c("input_records"), cold_traced), "count"),
            "engine.stages": (per_pass(c("stages"), traced), "count"),
            "engine.tasks": (per_pass(c("tasks"), traced), "count"),
            "engine.task_deser_s": (per_pass(c("task_deser_ms", 1e-3), traced), "s"),
            "engine.task_run_s": (per_pass(c("task_run_ms", 1e-3), traced), "s"),
            "engine.task_gc_s": (per_pass(c("task_gc_ms", 1e-3), traced), "s"),
            "engine.busy_ratio": (per_pass(
                lambda p: p["counters"].get("task_run_ms", 0) / 1e3 / (p["wall_s"] * cores),
                traced), "ratio"),
            "engine.task_skew": (per_pass(c("task_skew"), traced), "ratio"),
            "engine.shuffle_write_bytes": (per_pass(c("shuffle_write_bytes"), traced), "B"),
            "engine.shuffle_read_bytes": (per_pass(c("shuffle_read_bytes"), traced), "B"),
            "engine.spill_bytes": (per_pass(c("spill_bytes"), traced), "B"),
            "engine.tasks_failed": (per_pass(c("tasks_failed"), traced), "count"),
            "stream.batches": (per_pass(c("stream_batches"), traced), "count"),
            "stream.input_rows": (per_pass(c("stream_input_rows"), traced), "count"),
            "stream.trigger_s": (per_pass(c("stream_trigger_ms", 1e-3), traced), "s"),
            "stream.add_batch_s": (per_pass(c("stream_add_batch_ms", 1e-3), traced), "s"),
            "stream.planning_s": (per_pass(c("stream_planning_ms", 1e-3), traced), "s"),
            "stream.offsets_s": (per_pass(c("stream_offsets_ms", 1e-3), traced), "s"),
            "stream.wal_s": (per_pass(c("stream_wal_ms", 1e-3), traced), "s"),
            "stream.outside_trigger_s": (per_pass(lambda p: p["outside_trigger_s"], traced), "s"),
            "state.commit_s": (per_pass(c("state_commit_ms", 1e-3), traced), "s"),
            "state.rows": (rep["state_rows"], "count"),
            "state.bytes": (rep["state_bytes"], "B"),
            "state.rows_evicted": (rep["state_rows_evicted"], "count"),
            "trace.overhead_s": (
                _median([wall(p) for p in traced]) - _median([wall(p) for p in bare])
                if traced and bare else None, "s"),
        }
        return layer

    chosen = per_layer() if trace else e2e
    result = {
        "correct": clean and not check_failed and not mismatched,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    detail = {
        "failed_frac": n_failed / attempted if attempted else None,
        "failed_queries": failed,
        "check_failed": check_failed,
        "mismatch_frac": len(mismatched) / len(verdict) if verdict else None,
        "mismatched": {n: verdict[n] for n in mismatched},
        "checked": len(verdict),
        "cached_mb": rep["cached_bytes_end"] / 1e6,
        "latency_samples": len(lat),
        "first_pass_s": wall(first),
        "query_warm_s": {
            n: [round(latency(q), 4) for p in bare for q in p["queries"] if q["name"] == n]
            for n in sorted({q["name"] for q in first["queries"]})},
        "rounds": len(cold),
        "rounds_traced": len(cold_traced),
        "warm_passes": len(warm),
        "pass_walls_s": [[p["kind"], round(p["wall_s"], 4)] for p in passes],
        "cores": rep["cpus"],
    }
    return result, detail


# ---------------------------------------------------------------- tracing

def self_times(spans):
    """Self time per span kind: each span's duration minus the part of it
    its children cover, summed by kind."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for k in sorted(kids.get(s["id"], []), key=lambda k: k["start"]):
            a, b = max(k["start"], s["start"]), min(k["end"], s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end"] - s["start"] - covered) / 1e3
    return out


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so children are killed and work removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = dict(WORKLOADS[args.workload], name=args.workload)
    load_start, ticks_start, nproc = loadavg(), cpu_ticks(), os.cpu_count()

    cp = build()
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    work = os.path.join(BENCH, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    spans_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
    try:
        data = os.path.join(work, "data")
        seedgen.generate(SOURCE_DIR, data, args.seed)
        rep, check_dir = run_harness(cp, work, data, wl, args.seed, args.seconds,
                                     args.trace == 1, deadline, spans_file)
        verdict = oracle_check(data, check_dir, wl["queries"], deadline, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result, detail = summarize(rep, verdict, args.trace == 1)
    detail.update(workload=args.workload, seed=args.seed, nproc=nproc,
                  loadavg_start=load_start, loadavg_end=loadavg(),
                  cpu_steal_frac=steal_frac(ticks_start, cpu_ticks()),
                  run_s=time.time() - started)
    if args.trace == 1 and os.path.isfile(spans_file):
        with open(spans_file) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        detail["self_s_by_kind"] = self_times(spans)
        detail["spans"] = len(spans)
        detail["spans_file"] = os.path.relpath(spans_file, ROOT)
    print("PERFBENCH_REPORT " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
