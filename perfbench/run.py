#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload lookup_remote --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The first run builds the program
(`src/main/scala`) and the benchmark (`perfbench/scala`) with the Scala
compiler shipped in Spark's jars into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the build while the sources are unchanged.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones, with `--trace 1` the per-layer ones. Lines before it
are a human-readable report and the configuration stamp; the full result
(both metric sets, set-up phases, job times, stamp) is also written to
`<build>/results/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lookup_remote", "sink_batch", "dedup_corpus")
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("Spark jars not found (set SPARK_HOME)", 2)
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala: run from the root of a graft checkout", 2)
    if not bench:
        fail("no benchmark sources under perfbench/scala", 2)
    return prog + bench


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Compile program + benchmark once per source digest; returns (classes dir, built now)."""
    files = sources()
    jars = spark_jars()
    digest = source_digest(files)
    out = os.path.join(build_dir(), "classes-" + digest[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, digest, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [os.path.join(jars, j) for j in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    compiler = [sorted(glob.glob(p))[-1] for p in compiler if glob.glob(p)]
    if len(compiler) != 3:
        fail("scala compiler jars not found next to Spark's jars", 3)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", out, "@" + argfile]
    t = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed", 3)
    with open(os.path.join(out, ".ok"), "w") as fh:
        fh.write(f"{time.time() - t:.1f}\n")
    return out, digest, True


def java_cmd(classes, main, args):
    jars = spark_jars()
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed set of JIT compiler threads, whose CPU Main leaves out of cpu_s_per_krow
    return (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args)


def run_jvm(cmd, log_path, limit_s):
    """Run one JVM, stderr to a log; kill it (and wait) past the time limit."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def git_revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    classes, digest, built = ensure_build()
    bd = build_dir()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bd, "runs", f"{tag}-{os.getpid()}")
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(bd, d), exist_ok=True)
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(bd, "logs", tag + ".log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--work", work,
            "--golden", os.path.join(HERE, "golden.json")]
    if a.trace:
        args += ["--spans", os.path.join(bd, "traces", tag + ".jsonl")]
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started)
    try:
        code = run_jvm(java_cmd(classes, "graft.perfbench.Main", args), log, max(limit, 30))
        if code is None:
            fail(f"run exceeded its time limit; log: {log}", 4)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log))
            fail(f"benchmark JVM exited with {code}; log: {log}", 4)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["stamp"].update({
        "git_revision": git_revision(),
        "source_sha256": digest,
        "build": os.path.relpath(classes, ROOT),
        "inputs": "generated from --seed: sf0.1-shaped customer/orders/lineitem, fixed 2000-doc corpus",
        "trace": a.trace,
    })
    with open(os.path.join(bd, "results", tag + ".json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    other = res["end_to_end"] if a.trace else {}
    print(f"workload {a.workload} seed {a.seed}: {res['jobs']['untraced']} untraced jobs"
          + (f", {res['jobs']['traced']} traced jobs" if a.trace else "")
          + f"; set-up {json.dumps(res['setup'])}")
    for k, v in sorted(other.items()):
        print(f"  (untraced window) {k} = {v['value']:.6g} {v['unit']}")
    for k, v in sorted(metrics.items()):
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print("stamp: " + json.dumps(res["stamp"], sort_keys=True))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
