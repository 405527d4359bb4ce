#!/usr/bin/env python3
"""Main-thread JFR samples of a perfbench run's ops, by layer.

Usage: python3 scripts/jfr_breakdown.py <run.jfr> <dump.json>
           [--kinds K1,K2,...] [--by-stack]

The recording comes from a copy of perfbench/run.py whose java command
also carries
  -XX:StartFlightRecording=filename=<run.jfr>,settings=profile,dumponexit=true
run as `--workload W --seed N --seconds 20 --trace 1 --dump <dump.json>`
(the benchmark itself stays unchanged).

Default: execution samples of the client ("main") thread taken inside
the traced half's top-level op spans of the given kinds, read from the
dump. --kinds defaults to ingest_maintain's six write kinds; for
read_search's merge-on-read queries pass
`--kinds sources.mor_point,sources.mor_range`. --by-stack: every
main-thread sample of the whole run whose stack passes through a write
entry point, set-up and warm-up included (--kinds is then unused).
Each sample goes to the first layer whose pattern occurs anywhere on
its stack. The last line sums main-thread parks (JFR's 20 ms
threshold) per op: in AQE's final-plan wait, or in a job wait.
"""
import argparse
import json
import subprocess
import sys
from collections import Counter
from datetime import datetime

WRITE_KINDS = ("meta.append", "meta.upsert", "meta.delete_mor", "cmd.merge",
               "sql.delete", "sql.update")
ENTRY = ("graft.meta.GraftTable.append", "graft.meta.GraftTable.upsert",
         "graft.meta.GraftTable.deleteWhereMOR", "graft.meta.GraftTable.merge",
         "graft.sql.GraftSql.exec")
LAYERS = [
    ("hadoop conf parse (Configuration.getProps)",
     ("org.apache.hadoop.conf.Configuration.getProps",
      "org.apache.hadoop.conf.Configuration.loadResource")),
    ("parquet footer read", ("ParquetFileReader", "ManifestIO.footer")),
    ("manifest read/write (parquet-mr)", ("graft.meta.ManifestIO",)),
    ("conf copy (newHadoopConf)", ("SessionState.newHadoopConf",
                                   "org.apache.hadoop.conf.Configuration.<init>")),
    ("file listing (InMemoryFileIndex)", ("InMemoryFileIndex",)),
    ("snapshot log / fs", ("graft.meta.SnapshotLog", "RawLocalFileSystem",
                           "GraftLocalFileSystem")),
    ("analysis", ("catalyst.analysis",)),
    ("optimizer/planning", ("catalyst.optimizer", "SparkPlanner",
                            "QueryPlanner", "RuleExecutor")),
    ("codegen compile (janino)", ("org.codehaus.janino",
                                  "org.codehaus.commons.compiler")),
    ("codegen", ("codegen",)),
    ("encoders", ("ExpressionEncoder", "encoders")),
    ("class loading", ("ClassLoader",)),
]


def epoch_ms(iso):
    a, _, frac = iso.rstrip("Z").partition(".")
    return datetime.fromisoformat(a + "." + (frac + "000000")[:6]).timestamp() * 1e3


def events(jfr, kind):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "96",
                          "--events", kind, jfr],
                         capture_output=True, text=True, check=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        stack = "\n".join(f["method"]["type"]["name"].replace("/", ".") + "." +
                          f["method"]["name"] for f in
                          (v.get("stackTrace") or {}).get("frames", []))
        yield v, stack


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("dump")
    ap.add_argument("--kinds", default=",".join(WRITE_KINDS),
                    help="comma-separated top-level span names")
    ap.add_argument("--by-stack", action="store_true")
    args = ap.parse_args()
    jfr, by_stack = args.jfr, args.by_stack
    kinds = set(args.kinds.split(","))
    with open(args.dump) as f:
        ops = [(s["start"], s["end"]) for s in json.load(f)["spans"]
               if s["parent"] == 0 and s["name"] in kinds]

    def in_op(v):
        t = epoch_ms(v["startTime"])
        return any(a <= t <= b for a, b in ops)

    layers, n = Counter(), 0
    for v, stack in events(jfr, "jdk.ExecutionSample"):
        if (v.get("sampledThread") or {}).get("javaName") != "main":
            continue
        if by_stack:
            if not any(f in stack for f in ENTRY) or "graft.sched." in stack:
                continue
        elif not in_op(v):
            continue
        n += 1
        layers[next((name for name, pats in LAYERS
                     if any(p in stack for p in pats)), "other")] += 1
    print("%d main-thread samples (%s)" % (n, "write entry points on the "
          "stack, whole run" if by_stack else
          "inside %d traced ops of %s" % (len(ops), ", ".join(sorted(kinds)))))
    for name, c in layers.most_common():
        print("  %-44s %4d  %5.1f%%" % (name, c, 100.0 * c / max(n, 1)))

    parks = Counter()
    for v, stack in events(jfr, "jdk.ThreadPark"):
        if (v.get("eventThread") or {}).get("javaName") != "main" or not in_op(v):
            continue
        key = ("AQE final-plan wait" if "withFinalPlanUpdate" in stack else
               "job wait" if "runJob" in stack or "awaitResult" in stack
               else "other")
        parks[key] += float(v["duration"][2:-1]) * 1e3  # "PT0.25S"
    print("main-thread park ms per op: " + ", ".join(
        "%s %.0f" % (k, t / max(len(ops), 1)) for k, t in sorted(parks.items())))


if __name__ == "__main__":
    main()
