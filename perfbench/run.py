#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload graph_mixed --seed 1 --seconds 25 --trace 0

Builds graft's main sources together with the benchmark program
(perfbench/src) with the Scala compiler shipped in Spark's jars, caches
the jar (and a class-data sharing archive) under .bench_build/ keyed by
a hash of every source file, then runs the program in one JVM with
Spark local[nproc]. Spark's jars are taken from $SPARK_HOME/jars, or
else from the directory build.sbt names as `unmanagedBase`. The last
line of stdout is one JSON object with the keys correct, attempted, failed
and metrics: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. A GRAFTBENCH_DETAIL line before
it carries the input digest, per-operation latencies, failures and the
box state. Exits non-zero, printing no result, when anything fails, or
when a traced run lacks a per-layer metric that applies to its workload.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

# Per-layer metrics (by name prefix) a traced run of each workload must
# report. The others do not apply: the workload never calls their layer.
# They read 0 in the result, since it carries every per-layer metric, and
# are listed as not_applicable in the detail line.
EVERY = ("core.session.", "sources.Tables.", "spark.jobs", "spark.tasks", "spark.gc_ms",
         "spark.spill_bytes", "spark.executor_cpu_ms", "trace.", "box.")
GRAPH = EVERY + ("core.", "operators.", "catalyst.", "spark.", "streaming.")
APPLIES = {
    "graph_mixed": GRAPH,
    "graph_mixed_compact": GRAPH,
    "analytics_curation": EVERY + ("analytics.", "pipeline."),
}

# Spark 4 on JDK 17 outside spark-submit (as build.sbt sets for run/test)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def scala_sources():
    """graft's main sources plus the benchmark program, sorted."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(classpath, work, extra):
    """The benchmark JVM: graft's session settings, temporary space inside `work`."""
    return (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Dderby.system.home={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + extra
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "graftbench.Main"])


def fresh_dir(name):
    work = os.path.join(BUILD, name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    return work


def build():
    """Compile (or reuse) graft + the benchmark as one jar, plus a class-data
    sharing archive of the classes a short training run loads (it cuts
    JVM and Spark start-up by several seconds per run). Returns
    (classpath, extra JVM options)."""
    srcs = scala_sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "graftbench-" + h.hexdigest()[:16])
    jar = os.path.join(out, "graftbench.jar")
    classpath = jar + os.pathsep + os.path.join(jars, "*")
    jsa = os.path.join(out, "classes.jsa")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if not os.path.exists(os.path.join(out, ".complete")):
            compile_and_train(srcs, jars, out, jar, classpath, jsa)
    extra = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if os.path.exists(jsa) else []
    return classpath, extra


def compile_and_train(srcs, jars, out, jar, classpath, jsa):
    """Compile into `out`, jar the classes, and make the class-data archive
    from a short training run (without it runs still work, only slower
    to start)."""
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    work = fresh_dir("train")
    train = java_cmd(classpath, work, [f"-XX:ArchiveClassesAtExit={jsa}"]) + [
        "--workload", "graph_mixed", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--work", os.path.join(work, "data"), "--cpus", str(len(os.sched_getaffinity(0)))]
    try:
        subprocess.run(train, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=300, cwd=work)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(out, ".complete"), "w").close()


def cpu_probe_ms():
    """Wall time of a fixed single-thread CPU loop (box-state probe)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_500_000):
        s += i * i % 1000003
    return (time.perf_counter() - t0) * 1000


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in APPLIES:
        fail(f"unknown workload {args.workload}")
    classpath, jvm_extra = build()

    cpus = len(os.sched_getaffinity(0))
    box = {"load1": os.getloadavg()[0], "cpu_probe_ms": cpu_probe_ms(), "cpus": cpus}
    work = fresh_dir(f"run-{args.workload}-{args.seed}-{os.getpid()}")
    trace_file = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = java_cmd(classpath, work, jvm_extra + [f"-Dgraftbench.trace.file={trace_file}"]) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--cpus", str(cpus)]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    result = detail = None
    for line in r.stdout.splitlines():
        if line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
        elif line.startswith("GRAFTBENCH_DETAIL "):
            detail = json.loads(line.split(" ", 1)[1])
        else:
            print(line)
    if r.returncode != 0 or result is None or detail is None:
        fail(f"benchmark exited with {r.returncode} and no result")

    values = dict(result["values"])
    detail["box"] = box
    if args.trace:
        values["box.load1"] = box["load1"]
        values["box.cpu_probe_ms"] = box["cpu_probe_ms"]
        detail["per_layer"] = dict(values)
        names = [m["name"] for m in spec["per_layer"]]
        other = [n for n in names if not n.startswith(APPLIES[args.workload])]
        stray = [n for n in other if n in values]
        if stray:
            fail(f"reported per-layer metrics that do not apply to {args.workload}: {stray}")
        detail["not_applicable"] = other
        values.update((n, 0.0) for n in other)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        fail(f"benchmark reported no value for {missing}")
    bad = [m["name"] for m in declared if not isinstance(values[m["name"]], (int, float))]
    if bad:
        fail(f"benchmark reported a non-number for {bad}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    print("GRAFTBENCH_DETAIL " + json.dumps(detail))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
