#!/usr/bin/env python3
"""Benchmark for the graft Spark engine: named workloads of registered
queries on the sf0.1 corpus, each result checked against expected values.

    python3 perfbench/run.py --workload tail_sql --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark driver from source with the Scala
compiler shipped in the Spark distribution, runs one JVM (closed loop,
one client thread, local[<cores>]), checks every query result and prints
the metrics as the last stdout line, as one JSON object. --trace 0 gives
the end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
SCALA = "2.13.17"
JVM_TIMEOUT_S = 170
MB = 1024.0 * 1024.0
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the same list as the program's build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# the driver reads the CPU time of the JVM's internal threads (see cpu_s)
ADD_EXPORTS = ["--add-exports=java.management/sun.management=ALL-UNNAMED"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def declared(path, pattern, what):
    """A setting the repository declares in one of its own files."""
    try:
        with open(os.path.join(ROOT, path)) as f:
            m = re.search(pattern, f.read(), re.M)
    except OSError:
        m = None
    if not m:
        fail(f"{what} not found in {path}")
    return m.group(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    return declared("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "unmanagedBase")


def corpus_dir():
    """$SPARK_GRAFT_SF_DIR, else the sf0.1 directory TESTDATA.md lists."""
    return (os.environ.get("SPARK_GRAFT_SF_DIR") or
            declared("TESTDATA.md", r"^\|\s*0\.1\s*\|\s*`([^`]+)`", "the sf0.1 corpus")).rstrip("/")


def scalac(out, classpath, sources):
    jars = [os.path.join(spark_jars(), f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect")]
    os.makedirs(out)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
                        "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", out] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-3000:])


def build():
    """Compile the program (src/main/scala) and the benchmark driver into a
    directory keyed by a hash of their sources; reuse it when it exists."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not prog:
        fail(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    if not os.path.isdir(spark_jars()):
        fail(f"Spark jars not found at {spark_jars()}")
    digest = hashlib.sha256()
    for p in prog + bench:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    os.makedirs(BUILD_ROOT, exist_ok=True)
    out = os.path.join(BUILD_ROOT, "classes-" + digest.hexdigest()[:16])
    with open(os.path.join(BUILD_ROOT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "OK")):
            for old in glob.glob(os.path.join(BUILD_ROOT, "classes-*")):
                shutil.rmtree(old)
            spark_cp = os.path.join(spark_jars(), "*")
            scalac(os.path.join(out, "prog"), spark_cp, prog)
            scalac(os.path.join(out, "bench"), os.path.join(out, "prog") + ":" + spark_cp, bench)
            open(os.path.join(out, "OK"), "w").close()
    return [os.path.join(out, "bench"), os.path.join(out, "prog"), os.path.join(spark_jars(), "*")]


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, run_dir):
    """Run the benchmark driver in its own staging, temp, warehouse and
    Spark-local directories under `run_dir`. Returns (output, leftover
    bytes in those directories, launch time in epoch ms)."""
    work = {k: os.path.join(run_dir, k) for k in ("staging", "tmp", "warehouse", "local", "cwd")}
    for d in work.values():
        os.makedirs(d)
    out = os.path.join(run_dir, "driver.json")
    log = os.path.join(run_dir, "driver.log")
    cmd = (["java"] + ADD_OPENS + ADD_EXPORTS +
           ["-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={work['tmp']}",
            f"-Dspark.sql.warehouse.dir={work['warehouse']}", f"-Dspark.local.dir={work['local']}",
            "-cp", ":".join(classpath), "perfbench.Driver", "--out", out] + args)
    env = dict(os.environ, GRAFT_STAGING_DIR=work["staging"])
    launch_ms = time.time() * 1000.0
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work["cwd"], env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            r = None
    if r is None or r.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(("driver timed out" if r is None else f"driver exited with {r.returncode}") + ":\n" + tail)
    with open(out) as f:
        data = json.load(f)
    left = sum(dir_bytes(work[k]) for k in ("staging", "tmp", "warehouse", "local", "cwd"))
    return data, left, launch_ms


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def check(passes, expected):
    """Mark each query run ok or failed against the expected rows and
    fingerprint. Returns (attempted, failures as (pass index, name, why))."""
    attempted, failures = 0, []
    for i, p in enumerate(passes):
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["name"])
            if "error" in q:
                why = q["error"]
            elif want is None:
                why = "no expected value"
            elif q["rows"] != want["rows"]:
                why = f"rows {q['rows']} != expected {want['rows']}"
            elif q["hash"] != want["hash"]:
                why = f"fingerprint {q['hash']} != expected {want['hash']}"
            else:
                why = None
            q["ok"] = why is None
            if why:
                failures.append((i, q["name"], why))
    return attempted, failures


def pass_ok(p):
    return all(q["ok"] for q in p["queries"])


def quantile(values, q):
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def query_medians(passes, key):
    """Each query's median `key` across the passes, in seconds."""
    by_query = {}
    for p in passes:
        for q in p["queries"]:
            by_query.setdefault(q["name"], []).append(q[key] / 1e9)
    return [statistics.median(v) for v in by_query.values()]


def median_pass(passes, key):
    """One pass with every query at its median: less exposed than the
    median of pass sums to a stall that hits part of one pass."""
    return sum(query_medians(passes, key))


def end_to_end(data, launch_ms, cold, warm):
    # Percentiles are taken over the queries' medians, not over the pooled
    # runs: a workload has a few queries of very different sizes, and a
    # pooled percentile lands in the gap between two of them.
    per_query = query_medians(warm, "wall_ns")
    setups = [s["total_ms"] for s in data["setups"]]
    boot_s = (data["main_ms"] - launch_ms) / 1000.0
    return {
        "batch_s": (sum(per_query), "s"),
        "first_pass_s": (sum(q["wall_ns"] for q in cold["queries"]) / 1e9, "s"),
        "query_p50_s": (statistics.median(per_query), "s"),
        "query_p90_s": (quantile(per_query, 90), "s"),
        "cpu_s": (median_pass(warm, "cpu_ns"), "s"),
        "peak_heap_mb": (data["peak_heap_b"] / MB, "MB"),
        "setup_s": (boot_s + statistics.median(setups) / 1000.0, "s"),
    }


def query_layers(q):
    """Per-layer counters of one traced query run."""
    c = q["counters"]
    g = lambda k: c.get(k, 0.0)
    phases = q.get("drain_phases_ms", {})
    lo, hi = q["start_ms"], q["end_ms"]
    jobs = [(j["start"], j["end"] if j["end"] >= 0 else hi) for j in q["jobs"]]
    job_ms = union_ms(jobs, lo, hi)
    return {
        "body.ms": q["body_ns"] / 1e6,
        "body.jobs": sum(1 for j in q["jobs"] if j["start"] <= q["body_end_ms"]),
        "catalyst.analysis_ms": g("catalyst.analysis_ms") + phases.get("analysis", 0.0),
        "catalyst.optimizer_ms": g("catalyst.optimizer_ms") + phases.get("optimization", 0.0),
        "catalyst.planning_ms": g("catalyst.planning_ms") + phases.get("planning", 0.0),
        "catalyst.executions": g("catalyst.executions") + 1,
        "codegen.compiles": q["codegen_compiles"],
        "codegen.compile_ms": q["codegen_compile_ms"],
        "sched.jobs": len(q["jobs"]),
        "sched.stages": len(q["stages"]),
        "sched.tasks": g("tasks"),
        "sched.job_ms": job_ms,
        "sched.driver_gap_ms": (hi - lo) - job_ms,
        "sched.delay_ms": g("sched.delay_ms"),
        "exec.task_ms": g("exec.task_ms"),
        "exec.cpu_ms": g("exec.cpu_ms"),
        "exec.gc_ms": g("exec.gc_ms"),
        "exec.deser_ms": g("exec.deser_ms"),
        "shuffle.write_mb": g("shuffle.write_b") / MB,
        "shuffle.read_mb": g("shuffle.read_b") / MB,
        "shuffle.fetch_wait_ms": g("shuffle.fetch_wait_ms"),
        "spill_mb": g("spill_b") / MB,
        "scan.mb": g("scan.b") / MB,
        "scan.records": g("scan.records"),
        "cache.persisted_rdds": q["persisted_rdds"],
        "cache.peak_storage_mb": g("cache.peak_storage_b") / MB,
        "stream.batches": g("stream.batches"),
        "stream.trigger_ms": g("stream.trigger_ms"),
        "stream.state_rows": g("stream.state_rows"),
        "write.mb": g("write.b") / MB,
        "write.records": g("write.records"),
    }


def pass_layers(p):
    per_query = {q["name"]: query_layers(q) for q in p["queries"]}
    sums = {k: sum(l[k] for l in per_query.values()) for k in next(iter(per_query.values()))}
    rows = sum(q["rows"] for q in p["queries"])
    sums["scan.records_per_row"] = sums["scan.records"] / max(rows, 1)
    sums["trace.incomplete"] = sum(1 for q in p["queries"] if not q["bus_drained"])
    return sums, per_query


def per_layer(data, cold, warm, first_warm, left_b, trace_path):
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    # the first warm pass is untraced and still carries JIT compilation
    plain = [p for p in plain if p is not first_warm] or plain
    reduced = [pass_layers(p) for p in [cold] + traced]
    metrics = {k: statistics.median(r[0][k] for r in reduced[1:]) for k in reduced[0][0]}
    metrics["codegen.first_pass_compiles"] = reduced[0][0]["codegen.compiles"]
    metrics["codegen.first_pass_compile_ms"] = reduced[0][0]["codegen.compile_ms"]
    metrics["trace.overhead_s"] = median_pass(traced, "wall_ns") - median_pass(plain, "wall_ns")
    metrics["tables.load_ms"] = statistics.median(s["tables_load_ms"] for s in data["setups"])
    metrics["staging.left_mb"] = left_b / MB
    write_trace(trace_path, [cold] + traced, [r[1] for r in reduced])
    return {k: (v, unit(k)) for k, v in metrics.items()}


def unit(name):
    """Unit of a per-layer metric, from the last part of its name."""
    return {"ms": "ms", "mb": "MB", "s": "s", "row": "ratio"}.get(name.replace(".", "_").split("_")[-1], "count")


def write_trace(path, passes, layers):
    """Spans of the traced passes, nested pass > query > {body, drain} >
    job > stage, with each query's per-layer counters."""
    out = []
    for i, (p, lq) in enumerate(zip(passes, layers)):
        pid = f"p{i}"
        qs = p["queries"]
        out.append({"id": pid, "parent": None, "name": p["kind"], "start": qs[0]["start_ms"], "end": qs[-1]["end_ms"]})
        for q in qs:
            qid = f"{pid}/{q['name']}"
            out.append({"id": qid, "parent": pid, "name": q["name"], "start": q["start_ms"], "end": q["end_ms"],
                        "layers": lq[q["name"]]})
            out.append({"id": qid + "/body", "parent": qid, "name": "body", "start": q["start_ms"], "end": q["body_end_ms"]})
            out.append({"id": qid + "/drain", "parent": qid, "name": "drain", "start": q["body_end_ms"], "end": q["end_ms"]})
            stages = {s["id"]: s for s in q["stages"]}
            for j in q["jobs"]:
                side = "body" if j["start"] <= q["body_end_ms"] else "drain"
                jid = f"{qid}/job{j['id']}"
                out.append({"id": jid, "parent": f"{qid}/{side}", "name": f"job {j['id']}", "group": j["group"],
                            "start": j["start"], "end": j["end"]})
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s:
                        out.append({"id": f"{jid}/stage{sid}", "parent": jid, "name": f"stage {sid}",
                                    "tasks": s["tasks"], "start": s["submitted"], "end": s["completed"]})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; choose from {', '.join(workloads)}")
    sf_dir = corpus_dir()
    if not os.path.isdir(sf_dir):
        fail(f"corpus not found at {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    classpath = build()
    queries = list(workloads[a.workload]["queries"])
    random.Random(a.seed).shuffle(queries)
    expected = load_json("expected.json")

    run_dir = os.path.join(BUILD_ROOT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data, left_b, launch_ms = run_jvm(classpath, [
            "--sf", sf_dir, "--cores", str(cores()), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--setups", "3", "--queries", ",".join(queries)], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = data["passes"]
    attempted, failures = check(passes, expected)
    for i, name, why in failures:
        print(f"FAILED pass {i} {name}: {why}")
    print(f"failed_frac = {len(failures) / attempted:.4f} ({len(failures)} of {attempted})")
    # a pass with a failed query is void: its times enter no metric
    cold, warm = passes[0], [p for p in passes[1:] if pass_ok(p)]
    first_warm = passes[1]
    if not pass_ok(cold) or not any(not p["traced"] for p in warm) or (a.trace and not any(p["traced"] for p in warm)):
        print(json.dumps({"correct": False, "attempted": attempted, "failed": len(failures), "metrics": {}}))
        sys.exit(1)
    if a.trace:
        trace_path = os.path.join(BUILD_ROOT, "traces", f"{a.workload}-seed{a.seed}.json")
        metrics = per_layer(data, cold, warm, first_warm, left_b, trace_path)
        print(f"trace spans: {trace_path}")
    else:
        metrics = end_to_end(data, launch_ms, cold, warm)
        print(f"{a.workload}: {len(queries)} queries, {len(warm)} warm passes; percentiles over {len(queries)} query medians")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
