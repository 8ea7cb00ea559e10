#!/usr/bin/env python3
"""Benchmark entry point: build, set up, run one workload, report.

    python3 perfbench/run.py --workload fixed_cost --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the library sources
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/ with the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars); later runs reuse that build while the sources are
unchanged. Each run works in a fresh directory under .bench_build/ that is
deleted when it ends, and prints one JSON result as its last stdout line.

Extra flags, for the benchmark's own tests and for re-pinning outputs:
  --only q1,q2    run only these queries of the workload
  --corrupt q1    duplicate one row of q1's result (the check must catch it)
  --record 1      write the warm-up fingerprints to perfbench/reference.json
  --keep 1        keep the run directory (trace file, logs) for inspection
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
XMX = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

sys.path.insert(0, HERE)
import civicgen  # noqa: E402
import layers  # noqa: E402

# Lower tier thresholds than HotSpot's defaults (200/2000/5000/15000): the
# driver code a query runs reaches C2 sooner, so more of the JIT's progress
# falls in the warm-up and less in the timed window. The compiles are the
# same; they happen earlier. Lower thresholds still fill the compile queue
# faster than it drains and make passes noisier.
JIT_FLAGS = ["-XX:Tier3InvocationThreshold=100", "-XX:Tier3CompileThreshold=500",
             "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4CompileThreshold=3000"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BenchError("library sources %s not found: run from a repository checkout" % lib)
    files = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile library + harness unless the sources are unchanged."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars, stamp
    compiler = [glob.glob(os.path.join(jars, "scala-%s-*.jar" % n)) for n in
                ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BenchError("Spark's jars hold no Scala compiler")
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    proc = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise BenchError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars, stamp


def git_sha():
    """HEAD of the repository at ROOT; "none" when ROOT is not the top of a
    git work tree (a plain source checkout)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             timeout=10, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        lines = out.stdout.decode().split()
        if out.returncode == 0 and len(lines) == 2 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def load_workloads(only):
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if only:
        keep = only.split(",")
        for w in spec.values():
            if "queries" in w:
                w["queries"] = [q for q in w["queries"] if q in keep]
    return spec


def run_jvm(a, classes, jars, rundir, spec, t0):
    wl = spec[a.workload]
    with open(os.path.join(rundir, "workloads.json"), "w") as fh:
        json.dump(spec, fh)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--workloads", os.path.join(rundir, "workloads.json"),
                "--local-dir", os.path.join(rundir, "local"),
                "--result", os.path.join(rundir, "result.json"),
                "--trace-file", os.path.join(rundir, "trace.jsonl")]
    if a.workload == "civic_ingest":
        civicgen.generate(a.seed, os.path.join(rundir, "civic"), wl["batches"])
        jvm_args += ["--civic", os.path.join(rundir, "civic")]
    else:
        jvm_args += ["--data", os.path.join(HERE, wl["data"]),
                     "--reference", os.path.join(HERE, "reference.json")]
    if a.corrupt:
        jvm_args += ["--corrupt", a.corrupt]
    if a.record:
        jvm_args += ["--record", "1", "--record-file", os.path.join(rundir, "recorded.json")]
    os.makedirs(os.path.join(rundir, "tmp"))
    os.makedirs(os.path.join(rundir, "local"))
    cmd = (["java", "-Xmx" + XMX, "-Xss4m"] + JIT_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
            "-Dspark.ui.enabled=false"]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK_OPENS]
           + ["-cp", ":".join([classes, os.path.join(ROOT, "src", "main", "resources"),
                               os.path.join(jars, "*")]),
              "perfbench.Harness"] + jvm_args)
    remaining = RUN_LIMIT_S - (time.time() - t0)
    with open(os.path.join(rundir, "jvm.log"), "wb") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(remaining, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("run exceeded %d s" % RUN_LIMIT_S)
    if code != 0:
        with open(os.path.join(rundir, "jvm.log"), "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        raise BenchError("harness exited with %d" % code)
    with open(os.path.join(rundir, "result.json")) as fh:
        return json.load(fh)


def fmt(v):
    return ("%.6g" % v) if isinstance(v, float) else str(v)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--only", default="")
    p.add_argument("--corrupt", default="")
    p.add_argument("--record", type=int, default=0)
    p.add_argument("--keep", type=int, default=0)
    a = p.parse_args()

    spec = load_workloads(a.only)
    if a.workload not in spec:
        raise BenchError("unknown workload %r (have %s)" % (a.workload, ", ".join(spec)))
    classes, jars, digest = build()
    t0 = time.time()  # set-up starts here: the build is not set-up
    rundir = os.path.join(BUILD, "run-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        res = run_jvm(a, classes, jars, rundir, spec, t0)
        if a.record:
            ref_path = os.path.join(HERE, "reference.json")
            ref = json.load(open(ref_path)) if os.path.exists(ref_path) else {}
            ref[a.workload] = json.load(open(os.path.join(rundir, "recorded.json")))
            with open(ref_path, "w") as fh:
                json.dump(ref, fh, indent=1, sort_keys=True)
                fh.write("\n")
        per_layer = layers.aggregate(os.path.join(rundir, "trace.jsonl"), CORES) if a.trace else {}
        if a.keep:
            print("perfbench: run directory kept at %s" % rundir, file=sys.stderr)
    finally:
        if not a.keep:
            shutil.rmtree(rundir, ignore_errors=True)

    if res["first_timed_ms"] <= 0:
        raise BenchError("no timed operation ran")
    metrics = [{"name": "setup_s", "value": res["first_timed_ms"] / 1000.0 - t0,
                "unit": "s", "samples": 1}] + res["metrics"]
    e2e = {m["name"]: m for m in metrics}
    host = dict(res["host"], cpu_model=platform.processor() or platform.machine(),
                git_sha=git_sha(), source_sha256=digest)
    attempted, failed = res["attempted"], res["failed"]
    print("perfbench workload=%s seed=%d seconds=%d trace=%d" % (a.workload, a.seed, a.seconds, a.trace))
    print("host " + json.dumps(host, sort_keys=True))
    print("operations attempted=%d failed=%d fail_ratio=%s" % (attempted, failed, fmt(failed / attempted)))
    for n in res["notes"]:
        print("  failure: " + n)
    for m in metrics:
        print("  %-28s %14s %-7s n=%d" % (m["name"], fmt(m["value"]), m["unit"], m["samples"]))
    for name, xs in sorted(res["per_op"].items()):
        print("  op %-25s %14s s       n=%d (median)" % (name, fmt(statistics.median(xs)), len(xs)))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    last = os.path.join(BUILD, "last-untraced-%s-%d.json" % (a.workload, a.seed))
    if a.trace:
        # the same window-weighted pass time as the untraced run reports
        per_layer["trace.pass_s"] = e2e["pass_s"]["value"]
        base = json.load(open(last)) if os.path.exists(last) else None
        if base:
            key = "pass_s"
            per_layer["trace.overhead_ratio"] = per_layer["trace.pass_s"] / base[key]
        for name in sorted(per_layer):
            print("  %-28s %14s" % (name, fmt(per_layer[name])))
        out = {m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]}
               for m in declared["per_layer"]}
    else:
        with open(last, "w") as fh:
            json.dump({n: m["value"] for n, m in e2e.items()}, fh)
        out = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
               for m in declared["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print("perfbench: error: %s" % e, file=sys.stderr)
        sys.exit(2)
