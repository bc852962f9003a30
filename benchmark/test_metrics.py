"""Self-tests of the benchmark's arithmetic, on synthetic inputs.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import unittest

import metrics


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (2, 6)]), 6)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(3, 4), (0, 1), (1, 2)]), 3)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_serial_time(self):
        # a 10 ms query whose jobs cover 1-4 and 3-6: 5 ms covered, 5 serial
        jobs = [(1, 4), (3, 6)]
        self.assertEqual(10 - metrics.union_length(jobs, 0, 10), 5)


class SelfTime(unittest.TestCase):
    def span(self, s, e):
        return {"start": s, "end": e}

    def test_children_overlap_and_overhang(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 30), self.span(20, 40), self.span(90, 120)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 30 - 10)

    def test_leaf(self):
        self.assertEqual(metrics.self_time(self.span(5, 9), []), 4)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([1, 4, 16]), 4)
        self.assertAlmostEqual(metrics.geomean([2.5]), 2.5)

    def test_short_query_counts(self):
        # halving a short query moves the geomean as much as a long one
        a = metrics.geomean([0.1, 10])
        self.assertAlmostEqual(metrics.geomean([0.05, 10]) / a,
                               metrics.geomean([0.1, 5]) / a)


class Medians(unittest.TestCase):
    def test_per_query_median_over_passes(self):
        rows = [dict(query="a", start_ms=0, end_ms=t) for t in (3000, 1000, 2000)]
        rows += [dict(query="b", start_ms=0, end_ms=t) for t in (500, 9000)]
        med = metrics.per_query_medians(rows)
        self.assertEqual(med, {"a": 2.0, "b": 4.75})

    def test_window_excludes_cold_warmup_check_and_traced_passes(self):
        phases = ["cold", "warmup", "window", "window", "window", "check"]
        run = {"passes": [{"pass": i, "phase": p} for i, p in enumerate(phases)],
               "execs": [{"query": "a", "pass": i, "traced": i == 3,
                          "start_ms": 0, "end_ms": 1000 * (10 - i)}
                         for i in range(6)]}
        self.assertEqual([e["pass"] for e in metrics.window_execs(run, False)],
                         [2, 4])
        self.assertEqual(metrics.per_query_medians(
            metrics.window_execs(run, False)), {"a": 7.0})

    def test_straggler(self):
        self.assertEqual(metrics.straggler_s([1.0, 1.0, 4.0]), 3.0)
        self.assertEqual(metrics.straggler_s([]), 0.0)


class Spans(unittest.TestCase):
    """A traced pass with one query: 2 ms of build with one job, 8 ms of
    exec with two overlapping jobs, one stage and one streaming batch."""

    def run_record(self):
        q = {"query": "q", "pass": 1, "start_ms": 1000.0, "build_end_ms": 1002.0,
             "end_ms": 1010.0, "traced": True, "cpu_s": 0.1, "error": None}
        stage = dict(ev="stage", stage=7, attempt=0, tasks=4, start=1005.0,
                     end=1007.0, failed=False,
                     task_durations=[0.001, 0.001, 0.002, 0.001], run_s=0.005,
                     cpu_s=0.004, gc_s=0.0, scan_rows=10, scan_mb=1.0,
                     scan_tasks=1, shuffle_write_mb=0.5, shuffle_read_mb=0.5,
                     fetch_wait_s=0.0, spill_mb=0.0, write_mb=0.0,
                     write_records=0)
        return {
            "nproc": 4,
            "passes": [{"pass": 1, "phase": "window", "start_ms": 1000.0,
                        "end_ms": 1010.0, "traced": True,
                        "storage_retained_mb": 2.0}],
            "execs": [q],
            "events": [
                dict(ev="job_start", job=1, t=1000.0, stages=[1], site="Tables"),
                dict(ev="job_end", job=1, t=1001.0, ok=True),
                dict(ev="job_start", job=2, t=1004.0, stages=[7], site="harness"),
                dict(ev="job_end", job=2, t=1007.0, ok=True),
                dict(ev="job_start", job=3, t=1006.0, stages=[8], site="harness"),
                dict(ev="job_end", job=3, t=1008.0, ok=True),
                stage,
                dict(ev="batch", batch=0, start=1003.0, end=1009.0, input_rows=5,
                     trigger_s=0.006, plan_s=0.001, addbatch_s=0.004,
                     commit_s=0.001, state_rows=3, state_mb=0.25,
                     state_commit_s=0.0),
                dict(ev="block", t=1006.0, mb=1.5),
            ],
        }

    def test_tree_and_self_times(self):
        spans = {s["id"]: s for s in metrics.build_spans(self.run_record())}
        self.assertEqual(spans["j1"]["parent"], "p1.q0.build")
        self.assertEqual(spans["j2"]["parent"], "p1.q0.exec")
        self.assertEqual(spans["s7.0"]["parent"], "j2")
        self.assertEqual({s["qid"] for s in spans.values() if s["name"] != "pass"},
                         {"p1.q0"})
        self.assertEqual(spans["p1.q0.build"]["self_ms"], 1)   # 2 - job 1
        self.assertEqual(spans["p1.q0.exec"]["self_ms"], 4)    # 8 - jobs 4..8
        self.assertEqual(spans["j2"]["self_ms"], 1)            # 3 - stage 2
        self.assertEqual(spans["p1.q0"]["self_ms"], 0)         # build + exec

    def test_per_layer(self):
        run = self.run_record()
        m = metrics.per_layer(run, metrics.build_spans(run))
        self.assertAlmostEqual(m["driver.serial_s"], 0.005)    # 10 - 1 - 4
        self.assertEqual(m["driver.jobs"], 3)
        self.assertEqual(m["driver.stages"], 1)
        self.assertAlmostEqual(m["exec.util"], 0.005 / (4 * 0.005))
        self.assertAlmostEqual(m["exec.straggler_s"], 0.001)
        self.assertEqual(m["stream.batches"], 1)
        self.assertEqual(m["state.rows_max"], 3)
        self.assertEqual(m["materialize.blocks"], 1)
        self.assertEqual(m["site.harness.jobs"], 2)
        self.assertAlmostEqual(m["site.harness.task_s"], 0.005)  # via job 2


if __name__ == "__main__":
    unittest.main()
