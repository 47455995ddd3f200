#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per fresh JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --report [--workload W] [--seed N]
    python3 perfbench/run.py --steadiness [--runs K]

The first form builds the program and the harness from this checkout (once
per source state), runs graft.perfbench.Harness in a fresh JVM, checks every
query's output against its DuckDB oracle with dev/check.py, and prints the
end-to-end metrics (--trace 0) or the per-layer metrics and the span
self-time table (--trace 1). The last stdout line is one JSON object.

--report runs one untraced and two traced runs per workload and prints the
tracing overhead and which counters repeat exactly. --steadiness runs every
workload of BENCHMARK.json in two sets of K seeds and reports each
end-to-end metric's spread and the agreement of the two sets' medians
against the bounds. perfbench/README.md has the metric definitions and
the layer -> metric -> workload map.

All build products, run directories, Spark local dirs and the generated
corpora live under .perfbench_work/ in the checkout. The program's fixed
stored-index and word-list directories (/tmp/graft-*) are removed before
each run, so every run starts from the same disk state.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# the repository's sf0.1 test tables (TESTDATA.md), read-only input
SF_DIR = "/root/testdata/sf0.1"
WORKLOADS = ["etl_reference", "relational_events", "dedup_replicated", "stored_index"]
DRIVER_MEM = "4g"
# a run (after any build) ends within this; the oracle check gets what the
# harness JVM leaves of it, and at least CHECK_RESERVE_S
RUN_TIMEOUT_S = 175
CHECK_RESERVE_S = 15
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 outside spark-submit (the program's build.sbt sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Gated end-to-end metrics. Warm-pass and query costs are process CPU
# seconds. The cold pass and the wall-clock twins spread past any usable
# bound on a shared host (see README.md), so they are printed, not gated.
END_TO_END = [
    ("setup_s", "s"), ("warm_cpu_s", "s"), ("query_cpu_p50_s", "s"),
    ("query_cpu_tail_s", "s"), ("live_heap_mb", "MB")]
UNGATED = [
    ("cold_cpu_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("query_p50_s", "s"), ("query_tail_s", "s")]

FILL_ARTIFACTS = [
    "docTokenCounts", "tokenDictionary", "docAggregates", "wordLists",
    "shingles", "shingleDf", "minhashSignatures", "fingerprints",
    "embeddingRepMap", "hashSplit", "bloomEvalBits", "benchEvalShingles",
    "benchEvalBits", "storedPlacement"]
MODULES = ["TokenPipeline", "Hierarchy", "Relational", "Events", "Dedup",
           "Sketches", "Packing", "Pipeline"]
# per-warm-pass counters, reported as their median over the warm passes
PASS_COUNTERS = [
    ("tables.input_mb", "MB"), ("tables.input_records", "count"),
    ("tables.files_discovered", "count"), ("operators.build_s", "s"),
    ("planner.analysis_s", "s"), ("planner.optimization_s", "s"),
    ("planner.planning_s", "s"), ("codegen.compiles", "count"),
    ("codegen.compile_s", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.delay_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"),
    ("executor.deser_s", "s"), ("executor.peak_mem_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("spill.mem_mb", "MB"),
    ("spill.disk_mb", "MB"), ("stored.output_mb", "MB"),
    ("stored.output_records", "count")]
PER_LAYER = (
    [("sessions.start_s", "s"), ("tables.scan_s", "s"), ("caches.fill_s", "s")]
    + [(f"caches.fill_s.{a}", "s") for a in FILL_ARTIFACTS]
    + [("caches.index_keys", "count"), ("caches.fills_in_pass", "count"),
       ("caches.mem_mb", "MB"), ("caches.disk_mb", "MB"), ("caches.rdds", "count"),
       ("planner.plan_s", "s"), ("scheduler.stages_skipped_ratio", "ratio"),
       ("executor.busy_ratio", "ratio")]
    + [(f"operators.{m}.s", "s") for m in MODULES]
    + PASS_COUNTERS)
# counts a later change may cite only where they repeat exactly
EXACT_COUNTS = [
    "caches.index_keys", "caches.fills_in_pass", "caches.rdds",
    "tables.files_discovered", "tables.input_records", "codegen.compiles",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "stored.output_records"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the build, so a checkout builds once per
    source state."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = source_stamp()
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read(), stamp
    log(f"building source state {stamp}")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    with open(os.path.join(out, "sbt.log"), "w") as sbt_log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sbt_log,
            text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {out}/sbt.log")
    log(f"built in {time.monotonic() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), stamp


# ---------------------------------------------------------------- one run

def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cores():
    return len(os.sched_getaffinity(0))


def input_dir(workload, seed):
    """(dir, corpus build seconds, corpus properties)."""
    if workload != "dedup_replicated":
        return SF_DIR, 0.0, None
    import corpus
    return corpus.build(SF_DIR, os.path.join(WORK, "corpus"), seed)


def run_harness(classpath, workload, seed, seconds, trace, data_dir, deadline):
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(run, sub))
    for path in glob.glob("/tmp/graft-*"):
        shutil.rmtree(path, ignore_errors=True)
    argfile = os.path.join(run, "jvm.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + classpath + "\n")
    cmd = (["java", f"-Xmx{DRIVER_MEM}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={run}/warehouse",
              f"-Djava.io.tmpdir={run}/tmp",
              f"-Dderby.stream.error.file={run}/derby.log",
              f"@{argfile}", "graft.perfbench.Harness",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--dir", data_dir, "--out", os.path.join(run, "out"),
              "--cores", str(cores())])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"))
    jvm_log = os.path.join(run, "jvm.log")
    with open(jvm_log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness run failed ({code})")
    with open(os.path.join(run, "out", "result.json")) as f:
        return json.load(f), os.path.join(run, "out")


def frame_digest(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    df = df[sorted(df.columns)]
    rows = sorted(map(repr, df.itertuples(index=False, name=None)))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_outputs(result, out, data_dir, deadline):
    """Names of the workload's queries whose cold-pass output is wrong or
    missing."""
    bad = set()
    verify = os.path.join(out, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        with_oracle = set(json.load(f))
    if with_oracle:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "dev", "check.py"), data_dir, verify],
            capture_output=True, text=True,
            timeout=max(CHECK_RESERVE_S, deadline - time.monotonic()))
        ok = {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("ok ")}
        bad |= with_oracle - ok
        for l in proc.stdout.splitlines():
            if l.startswith("FAIL"):
                log(l)
    for name in set(result["order"]) - with_oracle:
        rows, digest = frame_digest(os.path.join(verify, name))
        again = frame_digest(os.path.join(out, "verify_again", name))
        if rows == 0 or (rows, digest) != again:
            bad.add(name)
    return sorted(bad)


def end_to_end(result):
    """(gated metrics, ungated readings, printed context of the tail).
    Query samples are every successful warm-pass execution."""
    warm = [p for p in result["passes"] if p["kind"] == "warm"]
    done = [q for p in warm for q in p["queries"] if q["ok"]]
    pct, cpu_tail = stats.tail([q["cpu_s"] for q in done])
    _, wall_tail = stats.tail([q["wall_s"] for q in done])
    cold = result["passes"][0]
    metrics = {
        "setup_s": result["setup_s"],
        "warm_cpu_s": statistics.median([p["cpu_s"] for p in warm]),
        "query_cpu_p50_s": statistics.median([q["cpu_s"] for q in done]),
        "query_cpu_tail_s": cpu_tail,
        "live_heap_mb": result["live_heap_mb"],
    }
    ungated = {
        "cold_cpu_s": cold["cpu_s"],
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": statistics.median([p["wall_s"] for p in warm]),
        "query_p50_s": statistics.median([q["wall_s"] for q in done]),
        "query_tail_s": wall_tail,
    }
    return metrics, ungated, {"samples": len(done), "tail_percentile": pct}


def per_layer(result, ncores):
    setup = result["setup"]
    warm = [p for p in result["passes"] if p["kind"] == "warm"]
    last = result["passes"][-1]["counters"]

    def med(key):
        return statistics.median([p["counters"].get(key, 0.0) for p in warm])
    m = {
        "sessions.start_s": setup["sessions.start_s"],
        "tables.scan_s": sum(v for k, v in setup.items() if k.startswith("tables.scan_s.")),
        "caches.fill_s": sum(v for k, v in setup.items() if k.startswith("caches.fill_s.")),
        "caches.index_keys": result["index_keys"],
        "caches.fills_in_pass": len(result["fills_in_pass"]),
        "caches.mem_mb": last["caches.mem_mb"],
        "caches.disk_mb": last["caches.disk_mb"],
        "caches.rdds": last["caches.rdds"],
        "planner.plan_s": med("planner.analysis_s") + med("planner.optimization_s")
        + med("planner.planning_s"),
        "scheduler.stages_skipped_ratio": statistics.median([
            p["counters"].get("scheduler.stages_skipped", 0.0)
            / max(1.0, p["counters"].get("scheduler.stages_planned", 0.0)) for p in warm]),
        "executor.busy_ratio": statistics.median([
            p["counters"].get("executor.run_s", 0.0) / (p["wall_s"] * ncores) for p in warm]),
    }
    for a in FILL_ARTIFACTS:
        m[f"caches.fill_s.{a}"] = setup.get(f"caches.fill_s.{a}", 0.0)
    for mod in MODULES:
        m[f"operators.{mod}.s"] = med(f"operators.{mod}.s")
    for k, _ in PASS_COUNTERS:
        m[k] = med(k)
    return m


def self_times(trace_file):
    """Per layer (span name before ':'): count, total and self seconds.
    Self time is a span's duration minus the part its children cover."""
    with open(trace_file) as f:
        spans = json.load(f)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        layer = s["name"].split(":")[0]
        row = table.setdefault(layer, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += s["end"] - s["start"]
        row[2] += s["end"] - s["start"] - covered
    return table


def run_once(workload, seed, seconds, trace, quiet=False):
    """One complete benchmark run; returns the summary dict."""
    if os.environ.get("SPARK_GRAFT_CONF"):
        fail("SPARK_GRAFT_CONF is set; the benchmark measures the committed configuration only")
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload!r} (known: {', '.join(WORKLOADS)})")
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("dev", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program to measure: {need} is missing from the checkout")
    if not os.path.isdir(SF_DIR):
        fail(f"input tables not found at {SF_DIR}")
    classpath, stamp = build()
    data_dir, corpus_s, corpus_props = input_dir(workload, seed)
    if corpus_props is not None:
        log(f"corpus seed {seed}: built in {corpus_s:.2f} s (excluded from setup_s); "
            f"{json.dumps(corpus_props)}")
    t0 = time.monotonic()
    deadline = t0 + RUN_TIMEOUT_S
    result, out = run_harness(classpath, workload, seed, seconds, trace, data_dir,
                              deadline - CHECK_RESERVE_S)
    t1 = time.monotonic()
    wrong = check_outputs(result, out, data_dir, deadline)
    log(f"harness JVM {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s")
    executions = sum(len(p["queries"]) for p in result["passes"])
    failed_exec = sum(1 for p in result["passes"] for q in p["queries"] if not q["ok"])
    # a cold execution that threw is already counted; a wrong answer adds one
    threw = {q["name"] for q in result["passes"][0]["queries"] if not q["ok"]}
    attempted = result["setup_steps"] + executions
    failed = result["setup_failures"] + failed_exec + len(set(wrong) - threw)
    metrics, ungated, ctx = end_to_end(result)
    summary = {
        "workload": workload, "seed": seed, "trace": trace,
        "nproc": os.cpu_count(), "cores": cores(), "driver_mem": DRIVER_MEM,
        "git_commit": git_commit(), "source_stamp": stamp,
        "warm_passes": len(result["passes"]) - 1, "attempted": attempted,
        "failed": failed, "fail_ratio": failed / attempted, "wrong": wrong,
        "end_to_end": metrics, "ungated": ungated, **ctx,
        "fills_in_pass": result["fills_in_pass"], "corpus_build_s": corpus_s,
        "corpus": corpus_props}
    if trace:
        summary["per_layer"] = per_layer(result, cores())
        summary["self_times"] = self_times(os.path.join(out, "trace.json"))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, time.strftime("%Y%m%dT%H%M%S")
                           + f"-{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump({"summary": summary, "result": result}, f)
    if not quiet:
        print_summary(summary)
    return summary


def print_self_times(table, indent=""):
    print(f"{indent}{'layer':<10} {'spans':>6} {'total_s':>10} {'self_s':>10}")
    for layer, (n, total, self_s) in sorted(table.items(), key=lambda kv: -kv[1][2]):
        print(f"{indent}{layer:<10} {n:>6} {total:>10.3f} {self_s:>10.3f}")


def print_summary(s):
    print(f"workload={s['workload']} seed={s['seed']} trace={s['trace']} "
          f"nproc={s['nproc']} cores={s['cores']} driver_mem={s['driver_mem']} "
          f"commit={s['git_commit']} source={s['source_stamp']}")
    print(f"warm passes={s['warm_passes']} query samples={s['samples']} "
          f"tail=p{s['tail_percentile']} attempted={s['attempted']} "
          f"failed={s['failed']} fail_ratio={s['fail_ratio']:.4f}")
    if s["wrong"]:
        print("wrong or failed outputs: " + ", ".join(s["wrong"]))
    if s["fills_in_pass"]:
        print("INDEX artifacts first filled in a timed pass: " + ", ".join(s["fills_in_pass"]))
    units = dict(END_TO_END + UNGATED)
    for k, v in list(s["end_to_end"].items()) + list(s["ungated"].items()):
        gated = "" if k in s["end_to_end"] else "  (not gated)"
        print(f"  {k:<16} {'n/a' if v is None else f'{v:12.4f}'} {units[k]}{gated}")
    if s["trace"]:
        print_self_times(s["self_times"])
        units = dict(PER_LAYER)
        for k, v in s["per_layer"].items():
            print(f"  {k:<36} {v:14.4f} {units[k]}")
    chosen = PER_LAYER if s["trace"] else END_TO_END
    values = s["per_layer"] if s["trace"] else s["end_to_end"]
    print(json.dumps({
        "correct": s["failed"] == 0, "attempted": s["attempted"], "failed": s["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen}}))


# ---------------------------------------------------------------- modes

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(workloads, seed, seconds):
    """Tracing overhead and exact-repeat counters, per workload."""
    for w in workloads:
        plain = run_once(w, seed, seconds, 0, quiet=True)
        traced = [run_once(w, seed, seconds, 1, quiet=True) for _ in range(2)]
        print(f"== {w} seed={seed}: tracing overhead, traced minus untraced")
        for kind, key in (("ungated", "warm_pass_s"), ("end_to_end", "warm_cpu_s")):
            base, t = plain[kind][key], traced[0][kind][key]
            print(f"   {key}: untraced {base:.3f} s, traced {t:.3f} s, "
                  f"overhead {t - base:+.3f} s ({(t - base) / base:+.1%})")
        a, b = traced[0]["per_layer"], traced[1]["per_layer"]
        same = [k for k in EXACT_COUNTS if a[k] == b[k]]
        print("   counts that repeat exactly: "
              + ", ".join(f"{k}={a[k]:g}" for k in same))
        differ = [f"{k}={a[k]:g}/{b[k]:g}" for k in EXACT_COUNTS if a[k] != b[k]]
        print("   counts that differ: " + (", ".join(differ) or "none"))
        print("   self times, first traced run:")
        print_self_times(traced[0]["self_times"], "     ")
        sys.stdout.flush()


def steadiness(runs, seconds, first_seed):
    """Two sets of `runs` seeds on every workload of BENCHMARK.json: each
    end-to-end metric's spread per set and over both sets, and how much
    worse the second set's median is than the first's, against the bound.
    The spread of setup_s is reported but not held to the bound."""
    spec = load_spec()
    names = [x["name"] for x in spec["workloads"]]
    # one set after the other; within a set the workloads alternate, so a
    # slow spell on the host lands on every workload alike
    found = {(w, s): [] for w in names for s in range(2)}
    wrong_runs = 0
    for s in range(2):
        for i in range(runs):
            for w in names:
                summary = run_once(w, first_seed + s * runs + i, seconds, 0, quiet=True)
                wrong_runs += summary["failed"] > 0
                found[w, s].append(summary["end_to_end"])
    print(f"runs with a failed or wrong query: {wrong_runs}")
    ok = wrong_runs == 0
    for w in names:
        sets = [found[w, 0], found[w, 1]]
        print(f"== {w}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r[name] for r in runs_] for runs_ in sets]
            spreads = [stats.spread(v) for v in vals + [vals[0] + vals[1]]]
            meds = [statistics.median(v) for v in vals]
            worse = stats.worse_by(meds[0], meds[1], m["better"])
            good = worse <= bound and (name == "setup_s" or max(spreads) <= bound)
            ok &= good
            print(f"   {name:<16} medians {meds[0]:10.4f} {meds[1]:10.4f}"
                  f"  second worse by {worse:+.3f}  spreads {spreads[0]:.3f} {spreads[1]:.3f}"
                  f" all {spreads[2]:.3f}  bound {bound}  {'ok' if good else 'OUT'}")
            print(f"      {[round(x, 4) for x in vals[0]]} | {[round(x, 4) for x in vals[1]]}")
        sys.stdout.flush()
    print("agreement: " + ("every metric within its bound" if ok else "OUT OF BOUNDS"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        seconds = load_spec()["run_seconds"]
    if a.steadiness:
        steadiness(a.runs, seconds, a.seed)
    elif a.report:
        report([a.workload] if a.workload else [w["name"] for w in load_spec()["workloads"]],
               a.seed, seconds)
    else:
        if not a.workload:
            ap.error("--workload is required")
        run_once(a.workload, a.seed, seconds, a.trace)


if __name__ == "__main__":
    main()
