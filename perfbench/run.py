#!/usr/bin/env python3
"""graft benchmark: builds the program and the benchmark harness from source,
runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Build outputs go to `.bench_build/`, run
data to `.bench_work/`. The last line of stdout is one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The lines before it
give the op counts per op type, tails, and the workload's named metrics.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "2g"
# the workload JVM is killed after this allowance for start-up, set-up,
# warm-up and checks plus twice the measured window
JVM_ALLOWANCE_S = 140

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()


def sources(base):
    found = []
    for dirpath, _, files in os.walk(base):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        raise BenchError("compilation failed (rc=%d), see %s" % (rc, log))


def build():
    """Compile the program's main sources, then the harness against them;
    skipped when neither changed since the last build."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    prog = sources(program_src)
    bench = sources(os.path.join(HERE, "src"))
    if not prog:
        raise BenchError("no program sources under %s" % program_src)
    if not os.path.isdir(SPARK_JARS):
        raise BenchError("Spark jars not found at %s" % SPARK_JARS)
    stamp = fingerprint(prog + bench)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log = os.path.join(BUILD, "build.log")
    jars = os.path.join(SPARK_JARS, "*")
    scalac(prog, os.path.join(BUILD, "program"), jars, log)
    scalac(bench, os.path.join(BUILD, "bench"), os.path.join(BUILD, "program") + os.pathsep + jars, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(args):
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(WORK, args.workload + ".log")
    cp = os.pathsep.join([os.path.join(BUILD, "bench"), os.path.join(BUILD, "program"), os.path.join(SPARK_JARS, "*")])
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # GC threads as many as the harness's Spark cores, half the vCPUs
    gc_threads = max(1, (os.cpu_count() or 2) // 2)
    cmd += ["-XX:ParallelGCThreads=%d" % gc_threads, "-XX:ConcGCThreads=%d" % max(1, gc_threads // 2)]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    with open(log, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        timeout = JVM_ALLOWANCE_S + 2 * args.seconds
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("workload timed out after %d s, see %s" % (timeout, log))
    if rc != 0 or not os.path.exists(out):
        raise BenchError("workload JVM failed (rc=%d), see %s" % (rc, log))
    with open(out) as f:
        raw = json.load(f)
    # keep the raw result (ops, spans, jobs) beside the log; drop the data
    os.replace(out, os.path.join(WORK, "%s-trace%d.json" % (args.workload, args.trace)))
    shutil.rmtree(work, ignore_errors=True)
    return raw


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(report.OP_TYPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        build()
        raw = run_jvm(args)
    except BenchError as e:
        print("benchmark error: %s" % e, file=sys.stderr)
        return 2
    result, detail = report.summarize(raw)
    for line in detail:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
