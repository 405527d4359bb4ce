"""Tests of the benchmark's own arithmetic:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)  # 10 beyond
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)  # p95: 9 beyond
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)

    def test_small_samples_fall_back_to_the_last_step(self):
        self.assertEqual(stats.tail_percentile(39), 75.0)
        self.assertEqual(stats.tail_percentile(6), 75.0)

    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.tail(xs), (90, 90.0))
        self.assertEqual(stats.percentile([5.0, 1.0, 3.0, 2.0, 4.0, 6.0], 75),
                         5.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        span = {"start": 0.0, "end": 100.0}
        jobs = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 40.0},
                {"start": 25.0, "end": 35.0}]
        self.assertAlmostEqual(stats.self_time(span, jobs), 70.0)

    def test_jobs_are_clipped_to_the_span(self):
        span = {"start": 100.0, "end": 200.0}
        jobs = [{"start": 50.0, "end": 120.0},   # 20 inside
                {"start": 190.0, "end": 260.0},  # 10 inside
                {"start": 300.0, "end": 400.0},  # outside
                {"start": 0.0, "end": 90.0}]     # outside
        self.assertAlmostEqual(stats.self_time(span, jobs), 70.0)

    def test_disjoint_and_touching_jobs(self):
        self.assertAlmostEqual(stats.covered(
            0, 10, [(1, 2), (2, 3), (5, 6)]), 3.0)
        self.assertEqual(stats.self_time({"start": 0, "end": 5}, []), 5)


SPARK = ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)\n"
         "org.apache.spark.sql.execution.QueryExecution.executedPlan"
         "(QueryExecution.scala:295)\n")


class CallSites(unittest.TestCase):
    def test_innermost_repo_frame_names_the_module(self):
        site = SPARK + ("graft.meta.GraftTable.inventory(GraftTable.scala:1900)\n"
                        "graft.cmd.Optimize$.run(Optimize.scala:150)\n"
                        "perfbench.Harness.op(Harness.scala:43)")
        self.assertEqual(stats.module_of(site), "meta")

    def test_benchmark_frames(self):
        site = SPARK + "perfbench.SelectiveRead$.$anonfun$round$3(SelectiveRead.scala:170)"
        self.assertEqual(stats.module_of(site), "bench")

    def test_pool_thread_falls_back_to_the_sql_execution_site(self):
        pool = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$"
                "withThreadLocalCaptured$2(SQLExecution.scala:329)\n"
                "java.base/java.lang.Thread.run(Thread.java:840)")
        exec_site = ("graft.ext.DedupQueries$.d03MinHashLsh(DedupQueries.scala:160)\n"
                     "perfbench.Harness.op(Harness.scala:43)")
        self.assertEqual(stats.module_of(pool + "\n" + exec_site), "ext")
        self.assertEqual(stats.module_of(pool), "other")
        self.assertEqual(stats.module_of(""), "other")

    def test_top_level_package_and_shims(self):
        self.assertEqual(stats.module_of(
            "graft.MaintenanceMain$.run(MaintenanceMain.scala:48)"), "graft")
        self.assertEqual(stats.module_of(
            "org.apache.spark.sql.graft.CatalystShims$.bloomAgg(X.scala:1)"),
            "other")

    def test_command_is_the_outermost_cmd_frame(self):
        site = SPARK + ("graft.cmd.Analyze$.loadStore(Analyze.scala:136)\n"
                        "graft.sources.GraftStatsRule$.apply(GraftStatsRule.scala:40)\n"
                        "graft.cmd.Optimize$.run(Optimize.scala:150)\n"
                        "graft.sched.Scheduler.executeTask(Scheduler.scala:90)")
        self.assertEqual(stats.command_of(site), "optimize")
        self.assertEqual(stats.command_of(
            "graft.cmd.RemoveOrphanFiles$.$anonfun$run$1(RemoveOrphanFiles.scala:40)"),
            "orphan")
        self.assertIsNone(stats.command_of(SPARK))


class HostScale(unittest.TestCase):
    def test_times_scale_to_the_reference_probe(self):
        ops = [_op("meta.append", 100, "untraced", probe_ms=p)
               for p in (60, 80, 200)]
        self.assertEqual(stats.probe_ms(ops), 80)
        self.assertEqual(stats.host_scale(ops), stats.REF_PROBE_MS / 80)


class Typical(unittest.TestCase):
    def test_every_class_counts_once(self):
        ops = [_op("meta.upsert", ms, "untraced") for ms in (100, 300, 200)]
        ops += [_op("meta.append", 50, "untraced")]
        # medians 200 and 50; the geometric mean weighs them equally
        self.assertAlmostEqual(stats.typical_ms(ops), 100.0)

    def test_queries_are_classed_by_table_and_entry_point(self):
        ops = [_op("sources.point", 40, "untraced", table="small", via="sql"),
               _op("sources.point", 90, "untraced", table="large", via="sql"),
               _op("sources.point", 10, "untraced", table="large",
                   via="source")]
        self.assertEqual(len(stats.class_medians(ops)), 3)
        self.assertAlmostEqual(stats.typical_ms(ops), 36000 ** (1 / 3))

    def test_kernel_cycles_group_by_batch(self):
        ops = [_op("ext.dedup", 3000, "untraced", batch="b1"),
               _op("ext.topk.s06", 500, "untraced", batch="b1"),
               _op("ext.dedup", 2000, "untraced", batch="b2"),
               _op("sources.count", 100, "untraced", table="small", via="sql")]
        run = stats.Run({"workload": "read_search", "ops": ops})
        self.assertEqual(sorted(stats._cycles_s(run, "untraced")), [2.0, 3.5])


def _op(kind, ms, phase, span=0, **kw):
    return dict(kind=kind, ms=ms, phase=phase, span=span, **kw)


class Metrics(unittest.TestCase):
    def record(self):
        # the untraced phase ran on a host half as fast as the reference
        # (twice the reference probe time), the traced phase at it
        ref = stats.REF_PROBE_MS
        ops = [_op("meta.append", 100 + i, "untraced", rows=10,
                   probe_ms=2 * ref) for i in range(6)]
        ops += [_op("sched.pass", 5000, "untraced", space_amp=1.5,
                    probe_ms=2 * ref)]
        ops += [_op("meta.append", 130, "traced", span=1, rows=10,
                    footer_hits=1, local_hits=2, probe_ms=ref)]
        return {"workload": "ingest_maintain", "setup_s": [3.0, 1.0, 2.0],
                "rss_peak_mb": 900.0, "attempted": 10, "failed": 0,
                "cores": 4, "facts": {}, "phase_wall_s": {"traced": 1.0},
                "ops": ops,
                "spans": [{"id": 1, "name": "meta.append", "parent": 0,
                           "op": 1, "start": 0.0, "end": 130.0}],
                "jobs": [{"id": 0, "span": 1, "start": 10.0, "end": 60.0,
                          "stages": [0], "callsite": "graft.meta.X.y(X.scala:1)"}],
                "stages": [{"id": 0, "tasks": 4, "run_ms": 80, "cpu_ns": 4e7,
                            "gc_ms": 8, "shuffle_write": 0, "shuffle_read": 0,
                            "input_bytes": 0, "max_result_bytes": 5}]}

    def test_end_to_end(self):
        m, samples = stats.end_to_end(stats.Run(self.record()))
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["op_p50_norm_ms"], 102.5 / 2)
        self.assertEqual(m["cycle_norm_s"], 5.0 / 2)
        self.assertAlmostEqual(m["ops_per_norm_s"], 6 / (5.615 / 2))
        self.assertEqual(samples["op_samples"], 6)
        self.assertEqual(stats.named(stats.Run(self.record()))[
            "write_tail_ms"][0], 104)  # p75 of 100..105

    def test_per_layer_from_the_traced_phase(self):
        m = stats.per_layer(stats.Run(self.record()))
        self.assertEqual(m["meta.append.p50_ms"], 130)
        self.assertEqual(m["client.op_tail_ms"], 130)
        self.assertAlmostEqual(m["meta.commit.driver_ms"], 80.0)
        self.assertEqual(m["meta.commit.jobs"], 1)
        self.assertEqual(m["meta.footer_inventory_hit_ratio"], 1.0)
        self.assertEqual(m["spark.tasks_per_op"], 4.0)
        self.assertAlmostEqual(m["spark.job_wall_share"], 50 / 130)
        self.assertEqual(m["jobs_share.meta"], 1.0)
        self.assertEqual(m["meta.space_amp"], 1.5)
        # the untraced half is scaled to the traced half's host speed
        self.assertAlmostEqual(m["trace.overhead_ms_per_op"], 130 - 102.5 / 2)
        self.assertAlmostEqual(m["trace.overhead_share"],
                               130 / (102.5 / 2) - 1)
        self.assertEqual(m["host.probe_ms"], stats.REF_PROBE_MS)
        self.assertAlmostEqual(m["client.op_p50_ms"], 130)
        self.assertEqual(m["sources.files_read"], 0.0)  # idle layer


if __name__ == "__main__":
    unittest.main()
