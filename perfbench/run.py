#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness with sbt (perfbench/build.sbt); later calls reuse the build while
the sources are unchanged. Each run is a fresh JVM whose warehouse,
checkpoint, Spark local, temp and output directories live under
.perfbench-work/ in the checkout and are deleted when the run ends.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it is the full record (machine context, warm
call counts, failures). With --trace 1 the record also carries the spans.

    python3 perfbench/run.py --record

re-derives the catalog output checks: it prints the lines of
perfbench/expected/catalog.tsv and leaves each query's result as parquet
under .perfbench-work/record for tools/compare.py.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "bench-build.stamp")
CLASSPATH = os.path.join(BUILD_DIR, "bench-classpath.txt")
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
EXPECTED = os.path.join(HERE, "expected", "catalog.tsv")
RECORD_DIR = os.path.join(WORK_ROOT, "record")
# the sf0.1 tables the catalog workloads read; read-only
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# JDK 17 module opens Spark needs, shared with build.sbt's test JVMs
with open(os.path.join(HERE, "jvm-add-opens.txt")) as _f:
    JVM_OPTS = ["-Xmx4g"] + _f.read().split()


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail("engine sources not found under " + os.path.relpath(r, ROOT))
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(cp, work, args, deadline):
    """Runs perfbench.Main in a fresh JVM and waits for it to end."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                 "perfbench.Main", "--work", work,
                                 "--cpus", str(nproc())] + args
    log = open(os.path.join(work, "jvm.log"), "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("JVM run failed (%s)" % rc)
    return launched


def remove_work(work):
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run's directory is still there


def new_work(tag):
    work = os.path.join(WORK_ROOT, "%s-%d-%d" % (tag, os.getpid(), time.time_ns()))
    os.makedirs(work)
    return work


def run(args):
    bench = spec()
    names = {w["name"] for w in bench["workloads"]}
    if args.workload not in names:
        fail("unknown workload %r (have %s)" % (args.workload, sorted(names)))
    if args.seconds <= 0:
        fail("--seconds must be positive")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    if args.workload == "corpus_catalog" and not os.path.isdir(SF_DIR):
        fail("sf0.1 tables not found at %s (set SPARK_GRAFT_SF_DIR)" % SF_DIR)
    work = new_work(args.workload)
    try:
        out = os.path.join(work, "result.json")
        launched = jvm(cp, work, [
            "--mode", "run", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--sf", SF_DIR, "--expected", EXPECTED,
            "--out", out], deadline)
        with open(out) as f:
            rec = json.load(f)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            with open(spans) as f:
                rec["spans"] = [json.loads(l) for l in f if l.strip()]
    finally:
        remove_work(work)
    # set-up: launching the JVM to a session that has run a job
    metrics = dict(rec["metrics"])
    if not args.trace:
        metrics["setup_s"] = {"value": rec["ready_ms"] / 1e3 - launched, "unit": "s"}
    declared = {m["name"]: m["unit"]
                for m in bench["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(declared):
        fail("emitted metrics differ from BENCHMARK.json: missing %s, undeclared %s"
             % (sorted(set(declared) - set(metrics)),
                sorted(set(metrics) - set(declared))))
    for name, unit in declared.items():
        if not NAME_RE.match(name) or metrics[name]["unit"] != unit:
            fail("metric %r: bad name or unit %r" % (name, metrics[name]["unit"]))
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps({"correct": rec["failed"] == 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": {n: metrics[n] for n in declared}}))


def record():
    """Re-derives perfbench/expected/catalog.tsv and leaves the catalog's
    results as parquet under RECORD_DIR for tools/compare.py."""
    cp = build()
    work = new_work("jvm")
    try:
        out = os.path.join(work, "expected.tsv")
        jvm(cp, work, ["--mode", "record", "--sf", SF_DIR, "--dumps", RECORD_DIR,
                       "--out", out], time.time() + 3600)
        with open(out) as f:
            sys.stdout.write(f.read())
    finally:
        remove_work(work)
    print("results under %s; check them with: python3 tools/compare.py %s %s"
          % (os.path.relpath(RECORD_DIR), SF_DIR, os.path.relpath(RECORD_DIR)),
          file=sys.stderr)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="re-derive the catalog output checks")
    args = p.parse_args()
    if args.record:
        record()
    elif args.workload:
        run(args)
    else:
        fail("--workload is required")


if __name__ == "__main__":
    main()
