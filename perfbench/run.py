#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload against the graft
engine, its outputs checked, its metrics printed.

    python3 perfbench/run.py --workload ingest_maintain --seed 1 \\
        --seconds 20 --trace 0

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into perfbench/target and writes
the runtime classpath under .bench_build/; later runs reuse that build
while the sources are unchanged. Each run works in a fresh directory
under .bench_build/work/ and removes it at the end.

The last line of standard output is one JSON object: with --trace 0 the
end-to-end metrics BENCHMARK.json declares, with --trace 1 the per-layer
metrics. Lines before it name the workload-specific values and sample
counts. See perfbench/README.md for the workloads and the metric
definitions.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("ingest_maintain", "read_search")
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


BUILD_DIR = os.path.join(ROOT, ".bench_build")


def source_digest():
    """Hash of every input of the build: the engine's sources and the
    harness with its build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile with sbt unless the classpath was built from these sources;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found under src/main/scala; run from the "
            "repository root")
    out = BUILD_DIR
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == digest:
                    with open(cp_file) as c:
                        return c.read()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "-Dperfbench.cp=" + cp_file,
             "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0 or not os.path.exists(cp_file):
            sys.stderr.write(p.stdout[-4000:])
            die("build failed")
        print("perfbench: built in %.0f s" % (time.time() - t0),
              file=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(digest)
        with open(cp_file) as c:
            return c.read()


def run_jvm(classpath, args):
    """Runs one workload in a fresh work directory; returns its record."""
    work = os.path.join(BUILD_DIR, "work", "%d-%d" % (os.getpid(),
                                                        time.time_ns()))
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "run.json")
    log = os.path.join(work, "jvm.log")
    # C1 only: a run lasts about a minute, so with the default tiered JIT
    # the C2 compiler is still racing the workload when it is measured,
    # and run-to-run spread doubles. C1 alone gets a 48 MB code cache by
    # default, which Spark's generated code fills (a run uses about 55 MB):
    # the JIT then stops and flushes mid-run, or a task fails outright.
    # At the default metaspace threshold Spark's classes set off four full
    # collections while the session starts and set-up runs.
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.callstack.depth=200"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), work, out]
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=lf,
                                 stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die("workload timed out after %d s" % JVM_TIMEOUT_S)
            except BaseException:
                # interrupted or terminated: take the JVM down with us
                p.kill()
                p.wait()
                raise
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            die("workload exited with code %d" % rc)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def declared():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM and the work directory are
    # cleaned up on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="also write the raw run record here")
    args = ap.parse_args()
    if args.seconds <= 0:
        die("--seconds must be positive")
    t_start = time.time()
    bench = declared()
    rec = run_jvm(ensure_build(), args)
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(rec, f)
    run = stats.Run(rec)

    for e in rec["errors"]:
        print("FAILED " + e)
    print("workload %s seed %d: %d attempted, %d failed" % (
        args.workload, args.seed, rec["attempted"], rec["failed"]))
    print("facts " + json.dumps(rec["facts"], sort_keys=True))
    print("wall %.1f s; phases %s" % (time.time() - t_start, json.dumps(
        {k: round(v, 1) for k, v in rec["phase_wall_s"].items()})))
    if args.trace:
        values = stats.per_layer(run)
        spec = bench["per_layer"]
    else:
        values, samples = stats.end_to_end(run)
        spec = bench["end_to_end"]
        print("samples " + json.dumps(samples, sort_keys=True))
        for name, (v, unit) in stats.named(run).items():
            print("%-20s %14.4f %s" % (name, v, unit))
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        die("metrics not computed: " + ", ".join(missing))
    if args.trace:
        for m in spec:
            print("%-42s %16.4f %s" % (m["name"], values[m["name"]], m["unit"]))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": rec["failed"] == 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
