"""Arithmetic of the benchmark: percentiles, self time, job attribution,
and the end-to-end and per-layer metrics computed from one run record.

A run record is the JSON the JVM side (perfbench.Main) writes: timed ops,
output checks, setup times, and in traced runs the spans, jobs and stages.
"""

import math
import re
import statistics

# Highest-first ladder of percentiles a tail may be reported at; the
# last is the fallback for samples too small for any step to qualify.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
# A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10

# Ops each workload's foreground latency is measured on, and its periodic
# heavy step (the "cycle").
QUERY_KINDS = ("sources.point", "sources.range", "sources.unclustered",
               "sources.count", "sources.asof", "sources.mor_point",
               "sources.mor_range")
TOPK_KINDS = ("ext.topk.s06", "ext.topk.s11")
FOREGROUND = {
    "ingest_maintain": ("meta.append", "meta.upsert", "meta.delete_mor",
                        "cmd.merge", "sql.delete", "sql.update"),
    "read_search": QUERY_KINDS,
}

WRITE_KINDS = FOREGROUND["ingest_maintain"]
QUERY_TYPES = ("point", "range", "unclustered", "asof", "mor_point",
               "mor_range")
ENTRY_POINTS = ("source", "sql", "table")
COMMANDS = {"RemoveOrphanFiles": "orphan", "ExpireSnapshots": "expire",
            "Optimize": "optimize", "Analyze": "analyze",
            "AnalyzeIncremental": "analyze"}
# The host probe's time, in ms, that the end-to-end timings are scaled to
# (about its median on an idle 4-vCPU VM of the reference machine).
REF_PROBE_MS = 8.0
MODULES = ("sched", "sql", "cmd", "meta", "sources", "ext", "functions",
           "rel", "streaming", "operators")


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (rounded first,
    so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile of `xs` (p in 0..100)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    return s[_rank(p, len(s)) - 1]


def tail_percentile(n):
    """The highest ladder percentile with at least TAIL_MIN_BEYOND of `n`
    samples above its nearest rank; the lowest ladder step when none
    qualifies (fewer than 40 samples)."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return TAIL_LADDER[-1]


def tail(xs):
    """(value, percentile used) of the tail of `xs`."""
    p = tail_percentile(len(xs))
    return percentile(xs, p), p


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def gmean(xs):
    xs = list(xs)
    return math.exp(statistics.fmean(math.log(x) for x in xs)) \
        if xs else float("nan")


def op_class(op):
    """What an op's latency is compared within: its kind, and for queries
    the table and entry point."""
    return op["kind"], op.get("table"), op.get("via")


def class_medians(ops):
    """Median latency of each op class among `ops`."""
    by = {}
    for o in ops:
        by.setdefault(op_class(o), []).append(o["ms"])
    return {c: median(xs) for c, xs in by.items()}


def typical_ms(ops):
    """Geometric mean over op classes of each class's median latency:
    every class counts once, so a change to any one kind of op moves it,
    whatever that kind costs and however often it runs."""
    return gmean(class_medians(ops).values())


def probe_ms(ops):
    """Median wall time of the host probe the JVM side runs before each
    timed op (a fixed sort on every core, outside the engine and Spark):
    how fast the shared host ran this part of the run."""
    return median([o["probe_ms"] for o in ops if "probe_ms" in o])


def host_scale(ops):
    """Factor that scales a time measured during `ops` to a host on which
    the probe takes REF_PROBE_MS."""
    return REF_PROBE_MS / probe_ms(ops)


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, jobs):
    """A span's duration minus the part its jobs cover; overlapping jobs
    count once."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(j["start"], j["end"]) for j in jobs])


_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(")


def frames(callsite):
    """Class names of a long call site's frames, innermost first."""
    out = []
    for line in (callsite or "").splitlines():
        m = _FRAME.match(line)
        if m:
            out.append(m.group(1))
    return out


def module_of(callsite):
    """The repo module a job's call site belongs to: the package of the
    innermost frame under `graft.`, `bench` when the innermost repo frame
    is the benchmark's own, `other` when the call site has neither. A
    job's call site is its action's stack followed by the stack of the
    thread that started its SQL execution."""
    for cls in frames(callsite):
        if cls.startswith("perfbench."):
            return "bench"
        parts = cls.split(".")
        if parts[0] == "graft":
            return parts[1] if len(parts) > 2 and parts[1] in MODULES \
                else "graft"
    return "other"


def command_of(callsite):
    """The maintenance command a job ran for: the outermost `graft.cmd`
    frame on its stack (a command's planning can call into another
    command's helpers, as optimize reads ANALYZE statistics)."""
    found = None
    for cls in frames(callsite):
        parts = cls.split(".")
        if len(parts) >= 3 and parts[0] == "graft" and parts[1] == "cmd":
            name = parts[2].split("$")[0]
            if name in COMMANDS:
                found = COMMANDS[name]
    return found


class Run:
    """One run record with its traced records indexed by span."""

    def __init__(self, rec):
        self.rec = rec
        self.workload = rec["workload"]
        self.ops = rec["ops"]
        self.spans = {s["id"]: s for s in rec.get("spans", [])}
        self.stages = {s["id"]: s for s in rec.get("stages", [])}
        self.jobs_by_op = {}
        for j in rec.get("jobs", []):
            span = self.spans.get(j["span"])
            if span is not None:
                self.jobs_by_op.setdefault(span["op"], []).append(j)

    def phase_ops(self, phase, kinds=None):
        return [o for o in self.ops if o["phase"] == phase and
                (kinds is None or o["kind"] in kinds)]

    def jobs_of(self, op):
        return self.jobs_by_op.get(op.get("span"), [])

    def job_stages(self, job):
        return [self.stages[i] for i in job["stages"] if i in self.stages]

    def span_of(self, op):
        return self.spans.get(op.get("span"))


def _ms(ops):
    return [o["ms"] for o in ops]


def _sum(ops, key):
    return sum(o.get(key, 0) for o in ops)


def _ratio(a, b):
    return a / b if b else 0.0


def _cycles_s(run, phase):
    """Seconds of each periodic heavy step: a maintenance pass, or one
    batch's kernel calls (dedup, index builds and cached top-k queries)."""
    ops = run.phase_ops(phase)
    if run.workload == "ingest_maintain":
        return [o["ms"] / 1000.0 for o in ops if o["kind"] == "sched.pass"]
    batches = {}
    for o in ops:
        if o["kind"].startswith("ext."):
            batches[o["batch"]] = batches.get(o["batch"], 0.0) + o["ms"] / 1000.0
    return list(batches.values())


def end_to_end(run, phase="untraced"):
    """The end-to-end metrics of one run, plus the sample bookkeeping
    behind them (counts and the tail percentile used)."""
    fg = run.phase_ops(phase, FOREGROUND[run.workload])
    busy_s = sum(o["ms"] for o in run.phase_ops(phase)) / 1000.0
    lat = _ms(fg)
    cycles = _cycles_s(run, phase)
    scale = host_scale(run.phase_ops(phase))
    metrics = {
        "setup_s": median(run.rec["setup_s"]),
        "op_p50_norm_ms": typical_ms(fg) * scale,
        "cycle_norm_s": median(cycles) * scale,
        "ops_per_norm_s": _ratio(len(fg), busy_s * scale),
        "rss_peak_mb": run.rec["rss_peak_mb"],
    }
    samples = {"op_samples": len(lat), "op_classes": len(class_medians(fg)),
               "cycle_samples": len(cycles),
               "setup_samples": len(run.rec["setup_s"])}
    return metrics, samples


def named(run, phase="untraced"):
    """The metrics under their workload-specific names, for the report."""
    ops = run.phase_ops(phase)
    rec = run.rec
    out = {"setup_s": (median(rec["setup_s"]), "s"),
           "host_probe_ms": (probe_ms(ops), "ms (scale %.4f)" % (
               host_scale(ops))),
           "failed_ratio": (_ratio(rec["failed"], rec["attempted"]),
                            "failed/attempted"),
           "rss_peak_mb": (rec["rss_peak_mb"], "MB")}

    def lat(name, kinds):
        sel = [o for o in ops if o["kind"] in kinds]
        xs = _ms(sel)
        v, p = tail(xs)
        out[name + "_p50_ms"] = (typical_ms(sel), "ms (n=%d, %d classes)" % (
            len(xs), len(class_medians(sel))))
        out[name + "_tail_ms"] = (v, "ms (p%g, n=%d)" % (p, len(xs)))

    if run.workload == "ingest_maintain":
        lat("write", WRITE_KINDS)
        passes = [o for o in ops if o["kind"] == "sched.pass"]
        writes = [o for o in ops if o["kind"] in WRITE_KINDS]
        out["maint_pass_s"] = (median([o["ms"] / 1000 for o in passes]),
                               "s (n=%d)" % len(passes))
        out["ingest_rows_per_s"] = (_ratio(
            _sum(writes, "rows"),
            (_sum(writes, "ms") + _sum(passes, "ms")) / 1000.0), "rows/s")
        amp = [o["space_amp"] for o in rec["ops"] if "space_amp" in o]
        out["space_amp"] = (amp[-1] if amp else float("nan"),
                            "disk bytes / live bytes")
    else:
        lat("read", QUERY_KINDS)
        batches = [o["ms"] / 1000 for o in ops if o["kind"] == "ext.dedup"]
        builds = [o["ms"] / 1000 for o in ops
                  if o["kind"].startswith("ext.index_build.")]
        out["dedup_batch_s"] = (median(batches), "s (n=%d)" % len(batches))
        out["index_build_s"] = (median(builds), "s (n=%d)" % len(builds))
        lat("topk", TOPK_KINDS)
    return out


def per_layer(run):
    """Per-layer metrics from the traced phase; 0 where a layer does no
    work on this workload."""
    m = {}
    tr = run.phase_ops("traced")
    un = run.phase_ops("untraced")
    fg = [o for o in tr if o["kind"] in FOREGROUND[run.workload]]
    facts = run.rec.get("facts", {})
    cores = run.rec.get("cores", 1)

    # meta: the commit path, and the snapshot-log state each write saw
    writes = [o for o in tr if o["kind"] in WRITE_KINDS]
    for k in WRITE_KINDS:
        m[k + ".p50_ms"] = median(_ms([o for o in writes if o["kind"] == k]))
    driver = [self_time(run.span_of(o), run.jobs_of(o))
              for o in writes if run.span_of(o)]
    m["meta.commit.driver_ms"] = median(driver)
    m["meta.commit.jobs"] = median([len(run.jobs_of(o)) for o in writes])
    for key, name in (("log_bytes", "meta.log_bytes"),
                      ("snapshots_live", "meta.snapshots_live"),
                      ("manifests", "meta.manifests_per_snapshot"),
                      ("manifest_bytes", "meta.manifest_bytes"),
                      ("files_live", "meta.files_live"),
                      ("delete_files_live", "meta.delete_files_live")):
        m[name] = median([o[key] for o in writes if key in o])
    m["meta.footer_inventory_hit_ratio"] = _ratio(
        _sum(writes, "footer_hits"), len(writes))
    m["meta.manifest_local_hits_per_op"] = _ratio(_sum(tr, "local_hits"),
                                                  len(tr))
    amp = [o["space_amp"] for o in run.ops if "space_amp" in o]
    m["meta.space_amp"] = amp[-1] if amp else 0.0
    passes = [o for o in tr if o["kind"] == "sched.pass"]
    m["meta.rows_committed_per_s"] = _ratio(
        _sum(writes, "rows"), (_sum(writes, "ms") + _sum(passes, "ms")) / 1000)
    if run.workload == "read_search":
        m["meta.manifest_bytes"] = sum(facts.get("manifest_bytes", {}).values())
        m["meta.files_live"] = facts.get("read_files", {}).get("mor", 0)
        m["meta.delete_files_live"] = facts.get("mor_delete_files", 0)

    # cmd and sched: one maintenance pass at a time
    merges = [o for o in writes if o["kind"] == "cmd.merge"]
    m["cmd.merge.files_rewritten"] = median(
        [o["files_rewritten"] for o in merges if "files_rewritten" in o])
    for cmd in ("orphan", "expire", "optimize", "analyze"):
        m["cmd.%s.job_s" % cmd] = median([
            sum(j["end"] - j["start"] for j in run.jobs_of(o)
                if command_of(j["callsite"]) == cmd) / 1000.0
            for o in passes])
    for key, name in (("optimize_files_in", "cmd.optimize.files_in"),
                      ("optimize_files_out", "cmd.optimize.files_out"),
                      ("optimize_bytes_rewritten",
                       "cmd.optimize.bytes_rewritten"),
                      ("snapshots_removed", "cmd.expire.snapshots_removed"),
                      ("expire_files_deleted", "cmd.expire.files_deleted"),
                      ("orphan_files_deleted", "cmd.orphan.files_deleted")):
        m[name] = median([o[key] for o in passes if key in o])
    m["sched.pass_jobs"] = median([len(run.jobs_of(o)) for o in passes])
    m["sched.pass_driver_ms"] = median(
        [self_time(run.span_of(o), run.jobs_of(o))
         for o in passes if run.span_of(o)])
    m["sched.table_load.p50_ms"] = median(
        [x for o in passes for x in o.get("table_load_ms", [])])

    # sources: planning and file skipping per query
    qs = [o for o in tr if o["kind"].startswith("sources.")]
    scans = [o for o in qs if o.get("scans", 0) > 0]
    m["sources.files_total"] = median([o["files_total"] for o in scans])
    m["sources.files_read"] = median([o["files_read"] for o in scans])
    for t in QUERY_TYPES:
        sel = [o for o in scans if o["kind"] == "sources." + t]
        m["sources.files_read_ratio." + t] = _ratio(
            _sum(sel, "files_read"), _sum(sel, "files_total"))
    for via in ENTRY_POINTS:
        sel = [o for o in scans if o.get("via") == via]
        m["sources.files_read_ratio." + via] = _ratio(
            _sum(sel, "files_read"), _sum(sel, "files_total"))
    m["sources.plan_ms"] = median([o["plan_ms"] for o in qs if "plan_ms" in o])
    m["sources.manifest_jobs"] = _ratio(sum(
        1 for o in qs for j in run.jobs_of(o)
        if module_of(j["callsite"]) in ("meta", "sources")), len(qs))
    counts = [o for o in qs if o["kind"] == "sources.count"]
    m["sources.count_folded_ratio"] = _ratio(
        sum(1 for o in counts if o.get("scans", 1) == 0), len(counts))
    m["sources.bytes_read"] = median([o["bytes_read"] for o in scans])
    for t in ("small", "large"):
        m["sources.%s.p50_ms" % t] = median(
            _ms([o for o in qs if o.get("table") == t]))

    # ext and functions: the kernels
    dedups = [o for o in tr if o["kind"] == "ext.dedup"]
    builds = [o for o in tr if o["kind"].startswith("ext.index_build.")]
    m["ext.dedup.rows_in"] = median([o["rows_in"] for o in dedups])
    m["ext.dedup.pairs_out"] = median(
        [o["pairs_out"] for o in dedups if "pairs_out" in o])
    m["ext.dedup.recall"] = _ratio(
        _sum([o for o in run.ops if o["kind"] == "ext.dedup"], "pairs_found"),
        _sum([o for o in run.ops if o["kind"] == "ext.dedup"], "pairs_planted"))
    dedup_stages = [s for o in dedups for j in run.jobs_of(o)
                    for s in run.job_stages(j)]
    rows_in = _sum(dedups, "rows_in")
    m["ext.shuffle_bytes_per_row"] = _ratio(
        sum(s["shuffle_write"] for s in dedup_stages), rows_in)
    m["ext.relcache_bytes"] = facts.get("relcache_bytes", 0)
    m["ext.index_build_s"] = median([o["ms"] / 1000 for o in builds])
    kernel_stages = [s for o in tr if o["kind"].startswith("ext.")
                     for j in run.jobs_of(o) for s in run.job_stages(j)]
    m["functions.gc_ratio"] = _ratio(
        sum(s["gc_ms"] for s in kernel_stages),
        sum(s["run_ms"] for s in kernel_stages))
    m["functions.cpu_s_per_krow"] = _ratio(
        sum(s["cpu_ns"] for s in dedup_stages) / 1e9, rows_in / 1000.0)

    # spark: scheduling seen through the listener, per timed op
    all_jobs = [j for o in tr for j in run.jobs_of(o)]
    all_stages = [s for j in all_jobs for s in run.job_stages(j)]
    m["spark.jobs_per_op"] = _ratio(len(all_jobs), len(tr))
    m["spark.stages_per_op"] = _ratio(len(all_stages), len(tr))
    m["spark.tasks_per_op"] = _ratio(sum(s["tasks"] for s in all_stages),
                                     len(tr))
    m["spark.task_s_per_op"] = _ratio(
        sum(s["run_ms"] for s in all_stages) / 1000.0, len(tr))
    span_ms = [(run.span_of(o), run.jobs_of(o)) for o in tr if run.span_of(o)]
    m["spark.job_wall_share"] = _ratio(
        sum(covered(s["start"], s["end"],
                    [(j["start"], j["end"]) for j in js]) for s, js in span_ms),
        sum(s["end"] - s["start"] for s, _ in span_ms))
    wall = run.rec.get("phase_wall_s", {}).get("traced", 0)
    m["spark.cpu_util"] = _ratio(
        sum(s["cpu_ns"] for s in all_stages) / 1e9, wall * cores)
    m["spark.max_task_result_bytes"] = max(
        [s.get("max_result_bytes", 0) for s in all_stages], default=0)

    # module attribution of every traced job, by call site
    for mod in MODULES[:7] + ("bench",):
        m["jobs_share." + mod] = _ratio(
            sum(1 for j in all_jobs if module_of(j["callsite"]) == mod),
            len(all_jobs))

    # the client's view: the foreground tail, too few samples per run to
    # hold an end-to-end bound (see README)
    m["client.op_tail_ms"] = tail(_ms(fg))[0]

    # the cost of tracing: each op class's traced median against its
    # untraced median, so the mix of classes in each half does not count
    un_fg = [o for o in un if o["kind"] in FOREGROUND[run.workload]]
    tr_med, un_med = class_medians(fg), class_medians(un_fg)
    both = [c for c in tr_med if c in un_med]
    tr_scale, un_scale = host_scale(tr), host_scale(un)
    m["trace.overhead_ms_per_op"] = (
        gmean(tr_med[c] for c in both) * tr_scale -
        gmean(un_med[c] for c in both) * un_scale)
    m["trace.overhead_share"] = gmean(
        tr_med[c] / un_med[c] for c in both) * tr_scale / un_scale - 1
    m["host.probe_ms"] = probe_ms(tr)
    m["client.op_p50_ms"] = typical_ms(fg)
    m["client.cycle_s"] = median(_cycles_s(run, "traced"))
    m["trace.spans"] = len(run.spans)
    return {k: (0.0 if isinstance(v, float) and math.isnan(v) else v)
            for k, v in m.items()}
