#!/usr/bin/env python3
"""Zarr-to-frame benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles the library (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler shipped in the Spark jars,
caching the classes under .bench_build/ by a hash of every source file, then
runs one workload in one JVM at local[<cores>] with one client thread.
Human-readable detail goes to stderr; the last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scan-full", "select-interactive", "write-sink", "frame-queries")
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the library builds against: the directory build.sbt
    names as its unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if not os.environ.get("SPARK_HOME"):
        sys.exit("perfbench: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        sys.exit("perfbench: no library sources under src/main/scala (run from the repository root)")
    return lib + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Returns the classes directory, compiling when any source changed."""
    srcs = sources()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(srcs)


def _build(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", out, "@" + argfile],
        check=True, stdout=sys.stderr, timeout=840)
    log(f"compiled in {time.time() - t0:.0f} s")
    open(os.path.join(out, ".complete"), "w").close()
    return out


def run_jvm(classes, args, work, frame_data):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"), os.path.join(spark_jars(), "*")])
    # compiler threads that never end, so op_cpu_ms can leave their CPU time out
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if frame_data:
        cmd += ["--frame-data", frame_data]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the benchmark JVM timed out")
    result = None
    for line in out.splitlines():
        if line.startswith("@@result "):
            result = json.loads(line[len("@@result "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        sys.exit(f"perfbench: the benchmark JVM failed (exit {proc.returncode})")
    return result


def check_metrics(result, trace):
    """The JVM must report exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"perfbench: reported metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        frame_data, gen_cpu_s = None, 0.0
        if args.workload == "frame-queries":
            sys.path.insert(0, HERE)
            import frames
            frame_data = os.path.join(work, "tables")
            t0 = time.process_time()
            frames.generate(frame_data, args.seed)
            gen_cpu_s = time.process_time() - t0
        result = run_jvm(classes, args, work, frame_data)
        check_metrics(result, args.trace)
        if "setup_s" in result["metrics"]:
            result["metrics"]["setup_s"]["value"] += gen_cpu_s
        if frame_data:
            verdicts = frames.check(frame_data, os.path.join(work, "frame_out"))
            bad = {q: why for q, why in verdicts.items() if why}
            for q, why in sorted(bad.items()):
                log(f"oracle mismatch {q}: {why}")
            log(f"oracle: {len(verdicts) - len(bad)} of {len(verdicts)} frame queries match DuckDB")
            result["attempted"] += len(verdicts)
            result["failed"] += len(bad)
            result["correct"] = result["correct"] and not bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
