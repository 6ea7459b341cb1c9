#!/usr/bin/env python3
"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
harness into `perfbench/.build`; later runs reuse that build while the
sources are unchanged. Each run generates its inputs from the seed under
`perfbench/.work`, launches one JVM on the compiled classpath, checks every
result, prints a one-line report of the workload's own figures and, as the
last line, a JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("dashboard_mix", "corpus_curation")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # a run must end within 180 s; the build is not counted
JVM_HEAP = "2g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("SPARK_HOME must point at a Spark installation (its jars/ holds the "
             "Spark, Scala library and Scala compiler jars)")
    return os.path.join(jars, "*")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources under {main}: run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files, harness


def build(root):
    """Compile the program and the harness with the Scala compiler that ships
    in Spark's jars; skip when the sources are unchanged."""
    jars = spark_jars()
    prog, harness = sources(root)
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(prog + harness))
        cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-cp", jars, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


def launch(root, classes, args, in_dir, out_dir, budget_s):
    cp = os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"), spark_jars()])
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                          "--input", in_dir, "--out", out_dir,
                          "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = open(os.path.join(out_dir, "jvm.log"), "w")
    t0 = time.time()
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out_dir)
    try:
        rc = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = None
    log.close()
    return t0, rc


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()

    classes = build(root)
    started = time.time()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    in_dir, out_dir = os.path.join(work, "input"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        gen.generate(in_dir, args.seed)
        budget = DEADLINE_S - (time.time() - started)
        launch_epoch, rc = launch(root, classes, args, in_dir, out_dir, budget)
        raw_path = os.path.join(out_dir, "raw.json")
        if rc is None or not os.path.exists(raw_path):
            tail = open(os.path.join(out_dir, "jvm.log")).read()[-3000:]
            print(tail, file=sys.stderr)
            fail("the harness JVM timed out" if rc is None else f"the harness JVM exited {rc}")
        with open(raw_path) as f:
            raw = json.load(f)
        if rc != 0 or "fatal" in raw["counters"]:
            print(open(os.path.join(out_dir, "jvm.log")).read()[-3000:], file=sys.stderr)
            fail(f"the harness failed: {raw['counters'].get('fatal', rc)}")
        result = summarise(raw, args, launch_epoch, in_dir, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def summarise(raw, args, launch_epoch, in_dir, out_dir):
    """Check results against the oracle and build the printed metrics."""
    bad_keys = oracle.check_all(in_dir, out_dir, raw["checks"])
    for key, why in sorted(bad_keys.items()):
        print(f"oracle mismatch: {key}: {why}", file=sys.stderr)
    def bad(o):
        return not o["ok"] or o["key"] in bad_keys
    # every timed op counts; a set-up op counts only when it failed, so a
    # key whose check failed fails the run even if the window missed it
    counted = [o for o in raw["ops"] if not o["setup"] or bad(o)]
    failed = [o for o in counted if bad(o)]
    for o in failed[:10]:
        print(f"failed op: {o['template']} {o['key']}: {o.get('error') or 'wrong result'}",
              file=sys.stderr)
    attempted, nfailed = len(counted), len(failed)
    e2e = metrics.end_to_end(raw, launch_epoch)
    rep = metrics.report(raw, args.workload, e2e, attempted, nfailed)
    print(f"report {args.workload} seed={args.seed}: " + "; ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in rep.items()))
    table = layers.per_layer(raw) if args.trace else e2e
    return {"correct": nfailed == 0, "attempted": attempted, "failed": nfailed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in table.items()}}


if __name__ == "__main__":
    main()
