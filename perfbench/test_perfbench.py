"""Tests of the benchmark itself.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

The first classes test the metric arithmetic without Spark. EndToEnd runs
both workloads at tiny scale through run.py (a two-day crawl window; the
sweep at its own sf0.001 tables), building the program first if needed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        self.assertIsNotNone(metrics.tail_percentile(list(range(11))))

    def test_ten_samples_beyond_and_no_higher_percentile(self):
        for n in range(11, 400):
            xs = [float(i) for i in range(n)]
            p, v, count = metrics.tail_percentile(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            if p < 99:
                above = metrics.nearest_rank(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > above), 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 13)))[:2], (16, 2))
        self.assertEqual(metrics.tail_percentile(list(range(1, 101)))[:2], (90, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 39)))[:2], (73, 28))


class SpanArithmetic(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "name": "round", "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "name": "read", "start": 3.0, "end": 5.0},
            {"id": 3, "parent": 1, "name": "inner", "start": 2.0, "end": 3.0},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 10.0 - 4.0)  # children cover [1, 5]
        self.assertEqual(st[1], 3.0 - 1.0)
        self.assertEqual(st[2], 2.0)
        self.assertEqual(st[3], 1.0)

    def test_round_driver_time_is_round_minus_job_union(self):
        p = {"rounds": [{"read_s": 0.002}], "jobs": {"jobs": [
            {"id": 0, "start": 100.0, "end": 400.0, "site": "collect at CrawlJob.scala:676",
             "frame": "graft.crawl.CrawlJob$.runRoundInner(CrawlJob.scala:676)", "stages": [0]},
            {"id": 1, "start": 300.0, "end": 600.0, "site": "parquet at SnapshotLog.scala:153",
             "frame": "graft.snapshot.SnapshotLog.writeDir$1(SnapshotLog.scala:153)",
             "stages": [1, 2]},
            {"id": 2, "start": 2000.0, "end": 2100.0, "site": "x", "frame": "", "stages": [3]},
        ], "stages": [
            {"id": 0, "tasks": 4, "cpu_s": 0.1, "run_s": 0.2, "task_s": 0.2,
             "max_task_s": 0.1, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
            {"id": 1, "tasks": 2, "cpu_s": 0.1, "run_s": 0.2, "task_s": 0.2,
             "max_task_s": 0.1, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
        ]}}
        spans = [{"id": 0, "parent": -1, "name": "crawl.round", "start": 0.0, "end": 1000.0,
                  "run": 0}]
        (r,) = metrics.round_layers(p, spans)
        self.assertAlmostEqual(r["driver_s"], (1000 - 500) / 1e3)
        self.assertEqual(r["jobs"], 2)
        self.assertEqual(r["stages"], 2)  # stage 2 was skipped, stage 3 is outside
        self.assertEqual(r["tasks"], 6)
        self.assertAlmostEqual(r["counter_s"], 0.3)
        self.assertAlmostEqual(r["commit_s"], 0.3)
        self.assertAlmostEqual(r["read_s"], 0.002)


class LayerMap(unittest.TestCase):
    def test_call_sites(self):
        cases = {
            "graft.crawl.CrawlJob$.runRoundInner(CrawlJob.scala:676)": "crawl",
            "graft.snapshot.SnapshotLog.writeDir$1(SnapshotLog.scala:153)": "snapshot.commit",
            "graft.snapshot.SnapshotLog.$anonfun$commit$3(SnapshotLog.scala:170)":
                "snapshot.commit",
            "graft.snapshot.SnapshotLog.$anonfun$readTable$2(SnapshotLog.scala:349)":
                "snapshot.read",
            "graft.seen.SeenFilter$.collectSketches(SeenFilter.scala:241)": "seen",
            "graft.sched.Scheduler$.robotsGate(Scheduler.scala:196)": "sched",
            "graft.crawl.Validate$.isValid(Validate.scala:33)": "fetch",
            "graft.extract.Extract$.extractLongRows(Extract.scala:120)": "extract",
            "graft.report.Report$.widen(Report.scala:161)": "report",
            "graft.ops.DedupOps$.connectedComponents(DedupOps.scala:300)": "query",
            "graft.queries.PipelineQueries$.$anonfun$entries$4(PipelineQueries.scala:90)":
                "query",
            "graft.Tables$.load(Tables.scala:70)": "query",
            "perfbench.Sweep.$anonfun$run$5(Sweep.scala:113)": "bench",
            "": "other",
        }
        for frame, layer in cases.items():
            self.assertEqual(metrics.layer_of(frame), layer, frame)

    def test_counter_action(self):
        self.assertTrue(metrics.is_counter_action(
            {"site": "collect at CrawlJob.scala:676",
             "frame": "graft.crawl.CrawlJob$.runRoundInner(CrawlJob.scala:676)"}))
        self.assertFalse(metrics.is_counter_action(
            {"site": "collect at SeenFilter.scala:241",
             "frame": "graft.seen.SeenFilter$.collectSketches(SeenFilter.scala:241)"}))


def run_bench(*args, cwd=ROOT, timeout=900):
    out = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                         cwd=cwd, capture_output=True, text=True, timeout=timeout)
    return out


class EndToEnd(unittest.TestCase):
    def result(self, *args):
        out = run_bench(*args)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        last = out.stdout.strip().splitlines()[-1]
        res = json.loads(last)
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        return res

    def test_crawl_rounds_tiny(self):
        res = self.result("--workload", "crawl_rounds", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--tiny")
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(list(res["metrics"]), [n for n, _, _ in metrics.END_TO_END])
        for m in res["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_crawl_rounds_tiny_traced(self):
        res = self.result("--workload", "crawl_rounds", "--seed", "4", "--seconds", "1",
                          "--trace", "1", "--tiny")
        self.assertTrue(res["correct"])
        self.assertEqual(list(res["metrics"]), [n for n, _, _ in metrics.PER_LAYER])
        for name in ("crawl.round_driver_s", "crawl.jobs_per_round", "snapshot.commit_s",
                     "snapshot.files_written", "seen.s", "sched.s", "fetch.s", "extract.s",
                     "report.s", "exec.task_cpu_s", "trace.overhead", "urls_per_s"):
            self.assertGreater(res["metrics"][name]["value"], 0, name)

    def test_query_sweep(self):
        res = self.result("--workload", "query_sweep", "--seed", "5", "--seconds", "1",
                          "--trace", "0")
        self.assertTrue(res["correct"])
        self.assertEqual(res["attempted"], len(metrics.SWEEP_QUERIES))
        for m in res["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/target",
                                                          "__pycache__"))
            out = run_bench("--workload", "crawl_rounds", "--seed", "1", "--seconds", "1",
                            "--trace", "0", cwd=d, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"correct"', out.stdout)


if __name__ == "__main__":
    unittest.main()
