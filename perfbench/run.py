#!/usr/bin/env python3
"""Benchmark of the graft engine's serve, maintenance and batch paths.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The script compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench, reusing the build while no source changes, then
runs one workload in a fresh JVM whose temporary files, Spark local dir and
warehouse all live in a per-run scratch directory that is removed when the
run ends. The last line of standard output is the result as one JSON
object; the lines before it are the stamp and the human-readable report.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve_mixed", "batch_prepare")

# Metric name -> unit. BENCHMARK.json declares the same names; --self-test
# checks that the two agree.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op2_p50_ms": "ms",
    "ops_per_s": "op/s",
}
STAGES = ("ivf-layout", "ivfkm-layout", "pq-codebooks", "ivfpq-codes",
          "hnsw-graph", "hnsw-pq", "lsh-pairs")
QUERIES = ("embed_documents", "dedup_exact", "minhash_lsh_dedup",
           "semantic_dedup", "kneser_ney_bits", "bigram_lm_bits",
           "bm25_search", "item_item_recs", "q1_agg", "q9_profit")
PER_LAYER = {}
for route in ("hnsw", "ivf"):
    PER_LAYER.update({
        f"{route}.serve_build_ms": "ms", f"{route}.serve_collect_ms": "ms",
        f"{route}.build_jobs": "count", f"{route}.exec_jobs": "count",
        f"{route}.task_s": "s", f"{route}.records_read_per_result": "ratio",
        f"{route}.recall_at_10": "ratio"})
PER_LAYER.update({
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "maint.append_ms": "ms", "maint.delete_ms": "ms",
    "maint.append_jobs": "count", "maint.delete_jobs": "count",
    "maint.bytes_written": "bytes", "maint.write_amp": "ratio",
    "maint.space_amp": "ratio", "maint.jobs_per_search_after_write": "count"})
for st in STAGES:
    PER_LAYER.update({f"stage.{st}.s": "s", f"stage.{st}.jobs": "count",
                      f"stage.{st}.task_s": "s",
                      f"stage.{st}.bytes_written": "bytes"})
for q in QUERIES:
    PER_LAYER.update({f"query.{q}.s": "s", f"query.{q}.jobs": "count",
                      f"query.{q}.task_s": "s",
                      f"query.{q}.shuffle_bytes": "bytes",
                      f"query.{q}.spill_bytes": "bytes",
                      f"query.{q}.exchanges": "count"})
PER_LAYER.update({
    "driver.no_job_ms": "ms", "spark.task_wait_ms": "ms",
    "driver.gc_ms": "ms", "driver.heap_mb": "MB",
    "unattributed_jobs": "count",
    "trace.overhead_op_p50_ms": "ms", "trace.overhead_op2_p50_ms": "ms"})

# Spark on JDK 17 outside spark-submit needs these (the list the engine's
# own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Each JVM may take SETUP_ALLOWANCE_S (start-up, set-up, and the last
# cycle or pass, which runs to its end) plus RUN_FACTOR times the measured
# seconds: 100 s at --seconds 10, where one JVM takes about 55-60 s on 4
# cores. A traced run starts two JVMs, each with its own limit.
SETUP_ALLOWANCE_S = 60
RUN_FACTOR = 4
SELF_TEST_TIMEOUT_S = 120
BUILD_TIMEOUT_S = 600


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the engine's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    die("cannot find the Spark jars: set SPARK_HOME")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compile engine + benchmark with scalac; reuse an up-to-date build."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from the root of a full checkout")
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    compiler = [os.path.join(jars, f"scala-{n}-") for n in ("compiler", "library", "reflect")]
    cp = []
    for prefix in compiler:
        hits = sorted(f for f in os.listdir(jars)
                      if os.path.join(jars, f).startswith(prefix) and f.endswith(".jar"))
        if not hits:
            die(f"no {os.path.basename(prefix)}*.jar in the Spark jars")
        cp.append(os.path.join(jars, hits[-1]))
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print("perfbench: compiling engine + benchmark ...", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(cp),
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
         "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, digest


def driver_mem():
    """Half the memory, clamped to [2, 4] GiB, leaving room for other processes."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, AttributeError):
        return "2g"


def java_cmd(jars, classes, scratch, main_args):
    return (["java", f"-Xmx{driver_mem()}", "-Xss8m"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={scratch}/tmp",
               f"-Dderby.system.home={scratch}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
               "perfbench.Main"] + main_args)


def run_jvm(cmd, cwd, timeout):
    """Run the JVM in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def self_test(jars, classes):
    ok = True
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layered = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for what, got, want in (("end_to_end", declared, END_TO_END),
                                ("per_layer", layered, PER_LAYER)):
            if got != want:
                ok = False
                print(f"FAIL BENCHMARK.json {what} differs from run.py: "
                      f"{sorted(set(got.items()) ^ set(want.items()))}", file=sys.stderr)
        if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
            ok = False
            print("FAIL BENCHMARK.json workloads differ from run.py", file=sys.stderr)
    scratch = os.path.join(ROOT, ".bench_build", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        code = run_jvm(java_cmd(jars, classes, scratch, ["selftest"]), scratch,
                       SELF_TEST_TIMEOUT_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0 if ok and code == 0 else 1


def run_once(args, jars, classes, trace, trace_out):
    """One JVM run of the workload in a fresh scratch directory, removed
    afterwards; returns the JVM's result document."""
    scratch = os.path.join(ROOT, ".bench_build", f"run-{args.workload}-{os.getpid()}")
    out = os.path.join(scratch, "result.json")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        cmd = java_cmd(jars, classes, scratch, [
            args.workload, str(args.seed), str(args.seconds), str(trace),
            scratch, out, trace_out, str(len(os.sched_getaffinity(0)))])
        code = run_jvm(cmd, scratch, SETUP_ALLOWANCE_S + RUN_FACTOR * args.seconds)
        if code != 0 or not os.path.exists(out):
            die(f"benchmark JVM exited with code {code}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main():
    launch_load = os.getloadavg()[0]
    # on SIGTERM, unwind so that run_jvm kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    jars = spark_jars()
    classes, digest = build(jars)
    if args.self_test:
        sys.exit(self_test(jars, classes))

    trace_out = os.path.join(ROOT, ".bench_build", "traces",
                             f"{args.workload}-seed{args.seed}.json")
    if args.trace:
        # the tracing overhead is the difference between an untraced and a
        # traced run of the same inputs, each in its own JVM, one right
        # after the other; attempted and failed cover both
        plain = run_once(args, jars, classes, 0, trace_out)
        res = run_once(args, jars, classes, 1, trace_out)
        overhead = {k: res["end_to_end"][k] - plain["end_to_end"][k]
                    for k in END_TO_END}
        res["per_layer"]["trace.overhead_op_p50_ms"] = overhead["op_p50_ms"]
        res["per_layer"]["trace.overhead_op2_p50_ms"] = overhead["op2_p50_ms"]
        with open(trace_out) as f:
            doc = json.load(f)
        doc["end_to_end_untraced"] = plain["end_to_end"]
        doc["tracing_overhead"] = overhead
        with open(trace_out, "w") as f:
            json.dump(doc, f)
        for k in ("attempted", "failed", "errors"):
            res[k] = plain[k] + res[k]
    else:
        res = run_once(args, jars, classes, 0, trace_out)

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_commit": git_commit(), "source_sha256": digest,
        "nproc": len(os.sched_getaffinity(0)), "load_avg_at_launch": launch_load,
        "jvm": res["jvm"], "spark": res["spark"], "samples": res["samples"],
        "latencies_ms": res["latencies_ms"]}
    print(json.dumps({"stamp": stamp}))
    for name, v in res["report"].items():
        print(f"{name:<28} {v['value']:>14.4f} {v['unit']}")
    for e in res["errors"]:
        print(f"error: {e}")
    if args.trace:
        for k, v in overhead.items():
            print(f"trace.overhead.{k:<17} {v:>14.4f} {END_TO_END[k]}")
        print(f"trace: {os.path.relpath(trace_out, ROOT)}")
        names = PER_LAYER
        # layers a workload does not exercise did no work: 0
        values = {n: res["per_layer"].get(n, 0.0) for n in names}
    else:
        names = END_TO_END
        values = res["end_to_end"]
    missing = [n for n in names if n not in values]
    if missing:
        die(f"the run did not produce {missing}")
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()}}))


if __name__ == "__main__":
    main()
