#!/usr/bin/env python3
"""Benchmark of the propius chain: occurrence log -> store -> lookups.

Run from the root of the repository:

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table
    python3 perfbench/run.py --selftest                   # the harness's own checks

The first run compiles the engine (src/main/scala) and the harness
(perfbench/src) with the Scala compiler that ships with Spark, into
.bench_build/perfbench (or $CARGO_TARGET_DIR/perfbench), and writes a JVM
class-data archive for them. Later runs reuse both while the sources are
unchanged. Each run then starts one JVM that
generates the workload's inputs from the seed, times the workload, checks
every answer against a plain-Scala oracle and writes its result. The last
line of standard output is the result as JSON.

Inputs, the workload definitions and the layer -> metric map are in
perfbench/workloads.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SPEC = os.path.join(HERE, "workloads.json")
RUN_LIMIT_S = 170  # a run must end within 180 s; compiling comes on top, once
BUILD_LIMIT_S = 840
WORKLOADS = ("build", "serve", "ingest")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no jars directory under {home}")
    return jars


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(out, sources, classpath, java, jars):
    """Compile `sources` into the jar `out` unless a previous run already did."""
    if os.path.exists(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.dirname(out)}", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + sources
    log = out + ".log"
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"compilation failed ({log})")
    # a jar, not a directory: the JVM's class-data archive accepts only jars
    with zipfile.ZipFile(out + ".tmp.jar", "w", zipfile.ZIP_STORED) as jar:
        for d, _, files in os.walk(tmp):
            for f in files:
                path = os.path.join(d, f)
                jar.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.rename(out + ".tmp.jar", out)


def build(build_dir, java, jars):
    """Compile the engine and the harness; return the run classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    engine_files = scala_sources(ENGINE_SRC)
    bench_files = scala_sources(BENCH_SRC)
    if not engine_files or not bench_files:
        fail("no Scala sources to build")
    engine = os.path.join(build_dir, "engine-" + digest(engine_files) + ".jar")
    bench = os.path.join(build_dir, "bench-" + digest(bench_files, engine.encode()) + ".jar")
    jar_cp = os.path.join(jars, "*")
    os.makedirs(build_dir, exist_ok=True)
    compile_into(engine, engine_files, jar_cp, java, jars)
    compile_into(bench, bench_files, os.pathsep.join([engine, jar_cp]), java, jars)
    return os.pathsep.join([bench, engine, jar_cp])


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_args(spec, scratch):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["-XX:-UsePerfData", f"-Xmx{spec['session']['heap']}"] + opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={scratch}",
        f"-Dspark.graft.scratch={scratch}",
    ]


def run_jvm(cmd, log_path, limit_s):
    """Run the harness JVM; kill it (and wait) if it exceeds `limit_s`."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def run_harness(spec, java, jvm_flags, classpath, out_dir, workload, seed, seconds, trace):
    """One harness JVM over a fresh scratch directory; returns (exit code or
    None on timeout, log path)."""
    scratch = os.path.join(out_dir, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)  # nothing carries over between runs
    os.makedirs(scratch)
    cmd = [java] + jvm_flags + jvm_args(spec, scratch) + ["-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cpus", str(cpus()), "--spec", SPEC, "--out-dir", out_dir]
    log_path = os.path.join(out_dir, f"jvm-{workload}-{seed}-{trace}.log")
    rc = run_jvm(cmd, log_path, RUN_LIMIT_S)
    shutil.rmtree(scratch, ignore_errors=True)
    return rc, log_path


def fail_run(what, rc, log_path):
    with open(log_path, errors="replace") as fh:
        sys.stderr.write(fh.read()[-4000:])
    why = "timed out" if rc is None else f"exited with {rc}"
    fail(f"{what} {why} (log: {os.path.relpath(log_path, ROOT)})", 1)


def class_archive(spec, java, classpath, out_dir):
    """JVM flags that map an application class-data archive of Spark's, the
    engine's and the harness's classes. It saves about 11 s of JVM and
    session start and cold class loading per run (4 vCPUs), which keeps a
    run short. The archive is written once per build, by an untimed serve
    run with no timed phase (session, inputs, a store build, serving), so
    that every measured run maps the same archive."""
    key = hashlib.sha256(classpath.encode()).hexdigest()[:16]
    archive = os.path.join(out_dir, f"classes-{key}.jsa")
    if not os.path.exists(archive):
        tmp = archive + ".tmp"
        rc, log_path = run_harness(spec, java, [f"-XX:ArchiveClassesAtExit={tmp}"], classpath, out_dir,
                                   "serve", 0, 0, 0)
        if rc != 0 or not os.path.exists(tmp):
            fail_run("class-data archive run", rc, log_path)
        os.rename(tmp, archive)
    return [f"-XX:SharedArchiveFile={archive}"]


def run_one(args, spec, java, jvm_flags, classpath, out_dir):
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    result_path = os.path.join(out_dir, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    rc, log_path = run_harness(spec, java, jvm_flags, classpath, out_dir,
                               args.workload, args.seed, args.seconds, args.trace)
    if rc != 0 or not os.path.exists(result_path):
        fail_run(f"{args.workload} run", rc, log_path)
    with open(result_path) as fh:
        result = json.load(fh)
    with open(os.path.join(out_dir, f"report-{tag}.json")) as fh:
        report = json.load(fh)
    return result, report


def show(workload, result, report):
    print(f"# {workload}: correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} error_rate={report['error_rate']} "
          f"samples={report['samples']} tail_quantile={report['tail_quantile']}")
    for name, m in result["metrics"].items():
        print(f"  {name:<44} {m['value']:>14} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload or --selftest is required")

    with open(SPEC) as fh:
        spec = json.load(fh)
    java = shutil.which("java") or fail("java not found on PATH")
    jars = spark_jars()
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out_dir = os.path.join(ROOT, base, "perfbench")
    classpath = build(out_dir, java, jars)

    if args.selftest:
        rc = subprocess.run([java, "-XX:-UsePerfData", "-cp", classpath, "perfbench.SelfTest"],
                            cwd=ROOT).returncode
        sys.exit(rc)

    jvm_flags = class_archive(spec, java, classpath, out_dir)
    if args.workload != "all":
        result, report = run_one(args, spec, java, jvm_flags, classpath, out_dir)
        show(args.workload, result, report)
        print(json.dumps(result, separators=(",", ":")))
        return

    ok = True
    for w in WORKLOADS:
        args.workload = w
        result, report = run_one(args, spec, java, jvm_flags, classpath, out_dir)
        show(w, result, report)
        ok = ok and result["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
