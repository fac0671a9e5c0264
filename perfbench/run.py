#!/usr/bin/env python3
"""Operation-level benchmark of graft: runs one workload at one seed in a
fresh JVM and prints one JSON line with every metric, the operations
attempted and failed, and whether every output matched its model.

    python3 perfbench/run.py --workload ingest_commits --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program from
`src/main/scala` together with the harness in `perfbench/src` into
`.bench_build/` (Spark's jars, found through SPARK_HOME or spark-submit on
PATH, supply the compiler and the classpath). Tables, logs and the full
metrics of each run go to `.bench_out/`. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")
DEADLINE_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# default module options).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def scala_files(root):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program and harness into .bench_build/classes unless the
    sources are unchanged since the last build."""
    if not os.path.isdir(PROGRAM_SRC):
        fail("no program sources at src/main/scala; run from the repository root")
    sources = scala_files(PROGRAM_SRC) + scala_files(HARNESS_SRC)
    digest = hashlib.sha256()
    for f in sources:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return classes
    # Private scratch names, so a concurrent build cannot mix into this one.
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    args_file = "%s/sources-%d.txt" % (BUILD, os.getpid())
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    code = None
    try:
        code, out = run_child(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                               "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file])
    finally:
        os.remove(args_file)
        if code != 0:
            shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("compilation failed")
    if os.path.isdir(PROGRAM_RESOURCES):
        shutil.copytree(PROGRAM_RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def run_child(cmd, timeout=None, **kw):
    """Run `cmd` to its end; if the deadline passes or this process is told
    to stop, kill it and wait for it. Returns (exit code, captured output)
    (output None when it goes elsewhere); exit code None on timeout."""
    if "stdout" not in kw:
        kw.update(stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    proc = subprocess.Popen(cmd, **kw)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(args, classes, jars, started):
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(OUT, "work-%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(OUT, tag + ".log")
    cmd = ["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] + [
        "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores()),
        "--work", work, "--out", raw_path, "--spawn-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        code, _ = run_child(cmd, timeout=max(10, DEADLINE_S - (time.monotonic() - started)),
                            cwd=work, stdout=log, stderr=subprocess.STDOUT)
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded %d s; log in %s" % (DEADLINE_S, log_path), 3)
    if code != 0 or not os.path.exists(raw_path):
        shutil.rmtree(work, ignore_errors=True)
        fail("JVM exited with %d; log in %s" % (code, log_path), 4)
    with open(raw_path) as fh:
        raw = json.load(fh)
    os.replace(raw_path, os.path.join(OUT, tag + ".raw.json"))
    shutil.rmtree(work, ignore_errors=True)
    return raw, tag


def reported(trace):
    """(name, unit) of each metric the result line carries: BENCHMARK.json's
    end-to-end list, or its per-layer list in traced mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(stats.ROLES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    jars = spark_jars()
    classes = build(jars)
    os.makedirs(OUT, exist_ok=True)
    raw, tag = run_jvm(args, classes, jars, time.monotonic())

    correct, attempted, failed = stats.outcome(raw)
    allm = stats.metrics(raw)
    with open(os.path.join(OUT, tag + ".json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "correct": correct, "attempted": attempted, "failed": failed,
                   "problems": raw["problems"], "final_problems": raw["final_problems"],
                   "metrics": allm}, fh, indent=1, sort_keys=True)

    names = reported(args.trace)
    missing = [n for n, _ in names if n not in allm]
    if missing:
        fail("run produced no value for " + ", ".join(missing), 5)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": allm[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
