#!/usr/bin/env python3
"""graft's benchmark: the ncagg product path and the operator registry.

Run from the repository root:

    python3 graftbench/run.py --workload granule_day --seed 1 --seconds 20 --trace 0
    python3 graftbench/run.py --selftest
    python3 graftbench/run.py --census

Builds the benchmark (graft's sources plus graftbench/src) with sbt, offline,
when the sources changed; runs one workload in one JVM; checks the outputs;
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
Everything a run writes lives in one run directory under .bench_run/, which
is deleted when the run ends. A traced run also keeps its spans and metrics
under .bench_traces/. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
DATA = os.path.join(BENCH, "data", "sf0.001")
CENSUS = os.path.join(BENCH, "data", "registry_census.json")
QUERY_SET = os.path.join(BENCH, "data", "registry_set.json")
# Per-layer metrics of the layers a workload never reaches: they read 0
# there. Any other per-layer metric a traced run did not measure fails it.
UNREACHED = {
    "granule_day": ("registry.",),
    "registry": ("ingest.", "aggregate.", "write.", "session.", "product."),
}
RUN_LIMIT_S = 165  # a run must end within 180 s, build time aside

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every file the build reads: graft's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """Spark's install directory, from $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark jars under $SPARK_HOME: set SPARK_HOME")
        sys.exit(2)
    return home


def build():
    """Compile with sbt unless the stamp says the classes are current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft's sources (src/main/scala/graft) are missing")
        sys.exit(2)
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building with sbt (offline)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", "compile", "Compile/copyResources"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=800)
    if r.returncode != 0:
        log("build failed")
        sys.exit(2)
    with open(STAMP, "w") as f:
        f.write(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(main, args, run_dir, deadline):
    """Run one benchmark JVM in its run directory; returns its exit code."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
        "-XX:-UsePerfData",  # no /tmp/hsperfdata_* file
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", f"{CLASSES}:{jars}",
        main] + args
    env = dict(os.environ, SPARK_MASTER=f"local[{cores()}]")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def assemble(spec, result, workload, trace):
    """The output line: every declared metric of this mode, with its unit."""
    declared = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    failed = list(result["failed"])
    measured = result["metrics"]
    for name in measured:
        if name not in declared:
            failed.append(f"metric {name} is not declared in BENCHMARK.json")
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        if v is None and trace and m["name"].startswith(UNREACHED[workload]):
            v = 0.0
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            failed.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in failed:
        log(f"FAILED {f}")
    return {"correct": not failed,
            "attempted": max(1, result["attempted"], len(failed)),
            "failed": len(failed), "metrics": metrics}


def workload(a, spec):
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        log(f"unknown workload {a.workload}; declared: {names}")
        sys.exit(2)
    build()
    runs = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_out = None
    if a.trace:
        traces = os.path.join(ROOT, ".bench_traces")
        os.makedirs(traces, exist_ok=True)
        trace_out = os.path.join(traces, f"{a.workload}-seed{a.seed}")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--rundir", run_dir, "--data", DATA]
        if trace_out:
            args += ["--trace-out", trace_out + ".spans.jsonl"]
        code = run_jvm("graftbench.Main", args, run_dir,
                       time.monotonic() + RUN_LIMIT_S)
        result_file = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM exited with code {code}")
            sys.exit(1)
        with open(result_file) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    out = assemble(spec, result, a.workload, a.trace)
    line = json.dumps(out)
    if trace_out:
        with open(trace_out + ".metrics.json", "w") as f:
            f.write(line + "\n")
    print(line, flush=True)
    sys.exit(0 if out["correct"] else 1)


def selftest(spec):
    """The JVM checks, then one traced and one untraced run of each
    workload: every metric printed must be declared, and every declared
    metric measured by some workload that reaches its layer."""
    build()
    run_dir = os.path.join(ROOT, ".bench_run", f"selftest-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        code = run_jvm("graftbench.SelfTest",
                       ["--rundir", run_dir, "--data", DATA], run_dir,
                       time.monotonic() + 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        log("selftest failed")
        sys.exit(1)
    seen = set()
    for w in spec["workloads"]:
        for trace in (0, 1):
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 w["name"], "--seed", "1", "--seconds", "1", "--trace",
                 str(trace)], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = (r.stdout.strip().splitlines() or ["{}"])[-1]
            out = json.loads(last)
            if r.returncode != 0 or not out.get("correct"):
                log(f"selftest: {w['name']} trace {trace} failed: {last}")
                sys.exit(1)
            seen |= {n for n in out["metrics"]
                     if not (trace and n.startswith(UNREACHED[w["name"]]))}
    declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if seen != declared:
        log(f"selftest: declared but never printed: {sorted(declared - seen)}")
        sys.exit(1)
    log("selftest passed")


# Strata the registry workload's query set is drawn from: the query
# families, with the iterative embedding queries apart from the other emb_.
TPCH = {"q1_agg", "q3_join", "q5_join_agg", "q6_agg"}
ITERATIVE = {"emb_kcenter", "emb_label_prop", "emb_pagerank"}
SET_SIZE = 12


def stratum(q):
    if q in TPCH:
        return "tpch"
    if q in ITERATIVE:
        return "iterative"
    return q.split("_", 1)[0]


def select(census, size=SET_SIZE):
    """Draw about `size` queries from the census. Each stratum gets members
    in proportion to its share of the warm pass time (at least one),
    picked at evenly spaced ranks of its latencies. A member's weight is
    its stratum's time over its members' time, so the weighted sum of the
    members' latencies estimates a full pass and each stratum counts by
    its measured share."""
    strata = {}
    for q in sorted(census):
        strata.setdefault(stratum(q), []).append(q)
    total = sum(c["warm_s"] for c in census.values())
    members = {}
    for name, qs in sorted(strata.items()):
        qs.sort(key=lambda q: (census[q]["warm_s"], q))
        t = sum(census[q]["warm_s"] for q in qs)
        k = max(1, min(len(qs), round(size * t / total)))
        picks = [qs[int((i + 0.5) * len(qs) / k)] for i in range(k)]
        w = t / sum(census[q]["warm_s"] for q in picks)
        log(f"{name:10s} {len(qs):3d} queries {t:7.2f} s "
            f"({100 * t / total:4.1f}% of the pass), {k} drawn: {picks}")
        for q in picks:
            members[q] = {"rows": census[q]["rows"], "weight": round(w, 4)}
    small = [q for q in census if census[q]["tasks"] <= 4]
    log(f"census: {len(census)} queries, {total:.2f} s warm; "
        f"{len(small)} run <= 4 tasks "
        f"({100 * sum(census[q]['warm_s'] for q in small) / total:.1f}% of "
        f"the time)")
    est = sum(m["weight"] * census[q]["warm_s"] for q, m in members.items())
    wsmall = sum(m["weight"] * census[q]["warm_s"]
                 for q, m in members.items() if census[q]["tasks"] <= 4)
    log(f"set: {len(members)} queries, "
        f"{sum(census[q]['warm_s'] for q in members):.2f} s warm, "
        f"weighted {est:.2f} s; "
        f"{sum(census[q]['tasks'] <= 4 for q in members)} run <= 4 tasks "
        f"({100 * wsmall / est:.1f}% of the weighted time)")
    return members


def census():
    """Measure the whole registry on the fixture tables (CENSUS), then draw
    the registry workload's query set from it (QUERY_SET)."""
    build()
    run_dir = os.path.join(ROOT, ".bench_run", f"census-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        code = run_jvm("graftbench.Census",
                       ["--rundir", run_dir, "--data", DATA, "--out",
                        CENSUS], run_dir, time.monotonic() + 1800)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        log("census failed")
        sys.exit(1)
    with open(CENSUS) as f:
        members = select(json.load(f))
    with open(QUERY_SET, "w") as f:
        json.dump(members, f, indent=2)
        f.write("\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--census", action="store_true",
                   help="measure the registry and redraw its query set")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.selftest:
        selftest(spec)
    elif a.census:
        census()
    elif a.workload:
        workload(a, spec)
    else:
        p.error("--workload, --selftest or --census is required")


if __name__ == "__main__":
    main()
