"""Self-tests of the benchmark's own arithmetic and recorded data.

Run from the root of a checkout: `python3 perfbench/test_metrics.py`.
"""

import json
import unittest
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent


def span(id_, parent, name, start, end):
    return {"id": id_, "parent": parent, "name": name, "start_ms": start, "end_ms": end}


def job(id_, group, submit, **counts):
    j = {"job": id_, "group": group, "submit_ms": submit, "end_ms": submit + 1,
         "tasks": 1, "failed_tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
         "peak_exec_bytes": 0}
    j.update(counts)
    return j


class SelfTime(unittest.TestCase):

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, "a", 10, 40)]), {1: 30})

    def test_children_are_subtracted_once_even_when_they_overlap(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "x", 10, 30),
                 span(3, 1, "y", 20, 50), span(4, 1, "z", 70, 80)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 40 - 10)

    def test_grandchildren_count_against_their_own_parent_only(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "gate", 0, 60),
                 span(3, 2, "plan", 0, 20), span(4, 2, "exec", 20, 55)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3], st[4]), (40, 5, 20, 35))

    def test_child_outside_the_parent_is_clipped(self):
        spans = [span(1, 0, "a", 0, 10), span(2, 1, "b", 5, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 5)


class JobAttribution(unittest.TestCase):

    def test_group_wins_over_time_window(self):
        spans = [span(1, 0, "plan", 0, 10), span(2, 0, "exec", 10, 20)]
        owner = metrics.attribute_jobs(spans, [job(7, "perfbench-1", 15)])
        self.assertEqual(owner, {7: 1})

    def test_ungrouped_job_goes_to_the_innermost_open_span(self):
        spans = [span(1, 0, "gate", 0, 100), span(2, 1, "plan", 0, 50)]
        jobs = [job(1, "", 20), job(2, "stream-run-id", 70), job(3, "", 200)]
        self.assertEqual(metrics.attribute_jobs(spans, jobs), {1: 2, 2: 1})


class Failures(unittest.TestCase):

    def test_a_failed_operation_is_never_a_fast_sample(self):
        passes = [{"wall_s": 3.0, "ops": [{"name": "q1", "s": 1.0},
                                          {"name": "q2", "s": None}]},
                  {"wall_s": 3.0, "ops": [{"name": "q1", "s": 2.0},
                                          {"name": "q2", "s": 0.5}]}]
        self.assertEqual(metrics.op_samples(passes), [1.0, 2.0, 0.5])
        self.assertEqual(metrics.slowest_op(passes), 1.5)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])


class PerLayer(unittest.TestCase):

    def raw(self):
        spans = [span(1, 0, "gates.pass", 0, 1000),
                 span(2, 1, "gate.q1", 0, 400), span(3, 2, "CoreQueries.plan", 0, 100),
                 span(4, 2, "CoreQueries.exec", 100, 400),
                 span(5, 1, "gate.q2", 400, 1000), span(6, 5, "EventQueries.plan", 400, 900),
                 span(7, 5, "EventQueries.exec", 900, 1000)]
        jobs = [job(1, "perfbench-4", 150, shuffle_bytes=100, peak_exec_bytes=2e6),
                job(2, "", 500, failed_tasks=1), job(3, "perfbench-7", 950, spill_bytes=8)]
        return {"spans": spans, "jobs": jobs, "traced_passes_s": [1.0],
                "passes": [{"wall_s": 0.8, "ops": [{"name": "q1", "s": 0.3},
                                                   {"name": "q2", "s": 0.5}]}],
                "counters": {"setup.session_s": 4.0}}

    def test_family_split_and_shares(self):
        m = metrics.per_layer(self.raw(), "gates-sf0.01")
        self.assertAlmostEqual(m["CoreQueries.plan_s"], 0.1)
        self.assertAlmostEqual(m["CoreQueries.exec_s"], 0.3)
        self.assertEqual(m["CoreQueries.shuffle_bytes"], 100)
        self.assertEqual(m["EventQueries.jobs"], 2)
        self.assertEqual(m["EventQueries.spill_bytes"], 8)
        self.assertAlmostEqual(m["gates.plan_share"], 0.6 / 1.0)
        self.assertEqual(m["spark.failed_tasks"], 1)
        self.assertEqual(m["spark.peak_exec_mb"], 2)
        self.assertAlmostEqual(m["trace.overhead_share"], 0.25)
        self.assertEqual(m["setup.session_s"], 4.0)
        self.assertAlmostEqual(m["gates.op_p50_s"], 0.4)
        self.assertEqual(set(m), {n for n, _ in metrics.per_layer_names()})


class RecordedData(unittest.TestCase):

    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_names())

    def test_gate_set_reads_only_the_measured_fixture_groups(self):
        gates = json.loads((HERE / "expected" / "gates.json").read_text())
        self.assertEqual(gates["fixture_groups"], metrics.FIXTURE_GROUPS)
        self.assertEqual(len(gates["rows"]), len(metrics.FAMILIES))

    def test_hockey_counts_follow_from_the_shape(self):
        rec = json.loads((HERE / "expected" / "hockey.json").read_text())
        for shape, counts in [(rec["shape"], rec["counts"]),
                              (rec["reference_shape"], rec["reference_shape"])]:
            games = 3 * shape["rounds"] * shape["teams"] // 2
            self.assertEqual(counts["matchups"], games)
            self.assertEqual(counts["game_team_rows"], 2 * games)
            self.assertEqual(counts["train_rows"], 2 * games // 3)
            self.assertEqual(counts["test_rows"], games // 3)
            self.assertEqual(counts["test_season"], 20132014)
        self.assertEqual(rec["reference_shape"]["game_team_rows"], 18810)


if __name__ == "__main__":
    unittest.main()
