#!/usr/bin/env python3
"""Index-serving benchmark for this repository.

Run from the repository root:

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

It compiles the library (src/main/scala) and the benchmark (perfbench/src)
from source with the Scala compiler that ships in Spark's jars, caches the
classes under .bench_build/ keyed by a hash of the sources, and runs one
workload in one JVM on local[4]. The last line of standard output is the
result JSON; with --trace 1 the spans go to .bench_build/traces/.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repository's build.sbt compiles against."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if os.path.isdir(d) and any(n.startswith("scala-compiler") for n in os.listdir(d)):
            return d
    fail("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    out = []
    for top in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, n) for n in files if n.endswith(".scala")]
    return sorted(out)


def java_cmd(heap):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData", *opens]


def jvm(jars, classes, work, main, args):
    """The command running `main` from the built classes, and its
    environment: temporary files and Spark's local files stay under `work`."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    return env, java_cmd("3g") + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        main, *args, "--work", work,
    ]


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def build(jars):
    """Compile library + benchmark once per source hash; return the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cp = os.path.join(jars, "*")
    cmd = java_cmd("3g") + ["-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                            "-d", tmp, "-cp", cp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile timed out")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and ".tmp" not in old:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


def check_result(line, names):
    """The result line must carry exactly the metrics BENCHMARK.json names."""
    try:
        res = json.loads(line)
    except ValueError:
        return "last line is not JSON"
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(res)}"
    if list(res["metrics"]) != names:
        return f"metric names {list(res['metrics'])} differ from BENCHMARK.json {names}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(MAIN_SRC):
        fail(f"no library sources at {os.path.relpath(MAIN_SRC, ROOT)}: run from the repository root", 2)
    bench = spec()
    jars = spark_jars()
    classes = build(jars)

    work = fresh_dir(os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    # --seconds is accepted for the command-line contract but does not set
    # the window: every run measures the same two cycles of ops, so that
    # a faster host or commit does not get more, warmer samples
    env, cmd = jvm(jars, classes, work, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace), "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        print("\n".join(lines), file=sys.stderr)
        fail(f"benchmark exited with {proc.returncode}")
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    problem = check_result(lines[-1], names)
    if problem:
        print("\n".join(lines), file=sys.stderr)
        fail(problem)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
