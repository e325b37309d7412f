#!/usr/bin/env python3
"""Replication + curation benchmark for graft.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload snapshot --seed 1 --seconds 10 --trace 0

Builds the program from `src/main` plus the harness in `perfbench/src` with
the Scala compiler that ships in the Spark distribution (no sbt), caches the
classes under `.bench_build/perfbench/` by source hash, then runs one
workload in a fresh JVM on `local[4]`. The harness writes its result to a file; this
script prints a human-readable report followed, as the LAST line of stdout,
by one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json, with
`--trace 1` the per-layer ones. Exit code 0 only if every output check passed.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("cdc", "curation_dedup")
JVM_TIMEOUT_S = 170          # the whole run must end within 180 s
BUILD_TIMEOUT_S = 600
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Published estimates of the reference replicator (README.md:462-464 of the
# reference, quoted in BASELINE.md), printed beside the matching metrics.
REFERENCE = {
    "snapshot_rows_per_s": "reference: 50k-200k rows/s",
    "cdc_changes_per_s": "reference: 1k-5k events/s",
    "commit_to_visible_ms_p50": "reference: 10-100 ms commit-to-insert",
    "commit_to_visible_ms_p99": "reference: 10-100 ms commit-to-insert",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH. They include the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("set SPARK_HOME to a Spark 4 distribution")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        fail(f"no Scala compiler among the jars of {home}")
    return jars


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_once(base, out, srcs, cp, jars, resources=None):
    """scalac `srcs` into `out` unless an earlier run already did."""
    if os.path.exists(os.path.join(out, ".ok")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(base, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    compiler_cp = ":".join(j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-")))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
         "-nowarn", "-cp", ":".join(cp), "-d", tmp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        fail("compile failed", 3)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    prefix = os.path.basename(out).split("-")[0] + "-"
    for stale in glob.glob(os.path.join(base, prefix + "*")):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s",
          file=sys.stderr)


def build(root, jars):
    """Compile the program (src/main) and then the harness (perfbench/src)
    against it; each output is cached under its source hash."""
    main_srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                                 recursive=True))
    bench_srcs = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    resources = os.path.join(root, "src/main/resources")
    if not main_srcs or not bench_srcs:
        fail("program sources not found (src/main/scala, perfbench/src): "
             "run from the root of a graft checkout")
    res_files = sorted(f for f in glob.glob(os.path.join(resources, "**/*"),
                                            recursive=True) if os.path.isfile(f))
    jar_names = "\n".join(os.path.basename(j) for j in jars)
    main_key = digest(root, main_srcs + res_files) + \
        hashlib.sha256(jar_names.encode()).hexdigest()[:8]
    bench_key = main_key + digest(root, bench_srcs)
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    main_out = os.path.join(base, "main-" + main_key)
    bench_out = os.path.join(base, "bench-" + bench_key)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        compile_once(base, main_out, main_srcs, jars, jars, resources)
        compile_once(base, bench_out, bench_srcs, [main_out] + jars, jars)
    return [bench_out, main_out]


def run_jvm(root, classes, jars, args, work):
    result = os.path.join(work, "result.json")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m",
            "-XX:TieredStopAtLevel=1", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmpdir, "-Dspark.ui.enabled=false",
              "-cp", ":".join(classes + jars), "perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result,
              "--traces", os.path.join(root, ".bench_build", "perfbench", "traces")])
    logs = os.path.join(root, ".bench_build", "perfbench", "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(
        logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("interrupted", 5)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-12000:])
        fail("benchmark JVM timed out" if code is None
             else f"benchmark JVM exited with {code} and no result", 4)
    with open(result) as fh:
        return json.load(fh)


def report(res, args):
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} iterations={res['iterations']}")
    print(f"input_digest={res['input_digest']}")
    for name, m in sorted(res["report"].items()):
        ref = REFERENCE.get(name, "")
        n = f" (n={m['n']})" if "n" in m else ""
        print(f"  {name} = {m['value']:.6g} {m['unit']}{n}"
              + (f"   [{ref}]" if ref else ""))
    for msg in res["mismatches"]:
        print(f"  MISMATCH: {msg}")
    if res.get("trace_file"):
        print(f"trace_file={res['trace_file']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not 1 <= args.seconds <= 120:
        fail("--seconds must be between 1 and 120")
    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    work = os.path.join(root, ".bench_build", "perfbench", "runs",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(root, classes, jars, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(res, args)
    correct = res["correct"] and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
