"""Tests of the reported statistics and the output checks against
hand-computed cases.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402
import stats  # noqa: E402


class Tail(unittest.TestCase):

    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples(self):
        # 10 samples lie above the smallest one: percentile 1/11
        self.assertEqual(stats.tail([5, 1, 9, 2, 8, 3, 7, 4, 6, 10, 11]),
                         (1, 100.0 / 11))

    def test_twenty_samples(self):
        # values 1..20: 10 lie above 10, which sits at the 50th percentile
        self.assertEqual(stats.tail(list(range(20, 0, -1))), (10, 50.0))

    def test_hundred_samples(self):
        # 10 of 100 lie above the 90th value: p90
        self.assertEqual(stats.tail([x / 10 for x in range(1, 101)]), (9.0, 90.0))


class GeomeanAndRatios(unittest.TestCase):

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.5]), 0.5)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_ratio_refuses_empty_base(self):
        self.assertEqual(stats.ratio(3, 4), 0.75)
        with self.assertRaises(ValueError):
            stats.ratio(1, 0)

    def test_core_idle_share(self):
        # 6 busy core-seconds over 2 s on 4 cores: 2 of 8 idle
        self.assertAlmostEqual(stats.core_idle_share(6, 2, 4), 0.25)

    def test_amplification_backfill(self):
        op = {"k": 1, "csv_bytes": 1000, "warehouse_bytes": 2500,
              "runs": [{"bytes_written": 3000}]}
        self.assertEqual(run.amplification(op, {"csv_bytes": 1000}, "backfill_deep"),
                         (3.0, 2.5))

    def test_amplification_daily(self):
        # two runs ingest the 100-byte batch twice; the warehouse holds the
        # history plus days 1 and 2 once each
        op = {"k": 2, "csv_bytes": 100, "warehouse_bytes": 5400,
              "runs": [{"bytes_written": 2000}, {"bytes_written": 1000}]}
        exp = {"history_bytes": 1000, "days": [{"csv_bytes": 80}, {"csv_bytes": 100},
                                               {"csv_bytes": 90}]}
        self.assertEqual(run.amplification(op, exp, "daily_wide"), (15.0, 5400 / 1180))

    def test_setup_is_median_of_repeats_plus_one_off_steps(self):
        recs = [{"kind": "setup", "total_s": t} for t in (9.0, 1.0, 2.0)] + \
               [{"kind": "prepare", "wall_s": 4.0}, {"kind": "warmup", "wall_s": 10.0}]
        self.assertEqual(run.setup_s(recs), 16.0)


class EndToEnd(unittest.TestCase):

    SETUP = [{"kind": "setup", "total_s": 1.0}, {"kind": "prepare", "wall_s": 0.0},
             {"kind": "warmup", "wall_s": 5.0}, {"kind": "end", "live_heap_mb": 300.0}]

    def test_calls_are_grouped_by_entry_point_call(self):
        ops = [{"runs": [{"what": "append", "wall_s": 4.0}, {"what": "rerun", "wall_s": 3.0}],
                "queries": [{"name": "top_moves", "wall_s": 0.5}]},
               {"runs": [{"what": "append", "wall_s": 6.0}, {"what": "rerun", "wall_s": 2.0}],
                "queries": [{"name": "top_moves", "wall_s": 0.25}]}]
        self.assertEqual(run.calls(ops), {"append": [4.0, 6.0], "rerun": [3.0, 2.0],
                                          "top_moves": [0.5, 0.25]})

    def test_gates(self):
        # per-gate medians 0.5 and 2 over three passes: geomean 1
        passes = [[0.4, 2.0], [0.5, 3.0], [0.9, 1.0]]
        recs = self.SETUP + [
            {"kind": "op", "traced": False, "wall_s": sum(p),
             "gates": [{"name": "q2_x", "wall_s": p[0]}, {"name": "q9_y", "wall_s": p[1]}]}
            for p in passes]
        m = run.end_to_end(recs, {}, "gates")
        self.assertAlmostEqual(m["op_p50_s"][0], 2.4)  # passes of 2.4, 3.5, 1.9 s
        self.assertAlmostEqual(m["call_geomean_s"][0], 1.0)
        self.assertEqual(m["gate_pass_s"], m["op_p50_s"])
        self.assertEqual(m["setup_s"], (6.0, "s"))
        self.assertEqual(m["live_heap_mb"], (300.0, "MB"))

    def test_gate_metric_name(self):
        self.assertEqual(run.gate_metric("q146_prefix_jaccard"), "gates.q146")


class Checks(unittest.TestCase):

    EXP = {"bronze": 10, "silver": 8, "rejected": 2, "gold": 8,
           "rejected_by_reason": {"missing_key": 0, "invalid_volume": 2},
           "dq_fail_by_check": {"sudden_price_jump": 1, "stale_data": 0},
           "dq_rows_per_run": 2}

    def run_record(self, **over):
        r = {"bronze": 10, "silver": 8, "rejected": 2, "gold": 8, "dq": 5,
             "rejected_by_reason": {"invalid_volume": 2},
             "dq_fail_by_check": {"sudden_price_jump": 1}, "dq_run_rows": 2}
        r.update(over)
        return r

    def test_matching_run_passes_and_dq_accumulates(self):
        c = run.Checker()
        self.assertEqual(run.check_run(c, "x", self.run_record(), self.EXP, 3), 5)
        self.assertEqual((c.attempted, c.failures), (1, []))

    def test_each_mismatch_is_reported(self):
        c = run.Checker()
        run.check_run(c, "x", self.run_record(silver=7, dq=4,
                                              rejected_by_reason={"invalid_volume": 1}),
                      self.EXP, 3)
        self.assertEqual(c.attempted, 1)
        self.assertEqual(len(c.failures), 1)
        for part in ("silver", "rejected[invalid_volume]", "dq:"):
            self.assertIn(part, c.failures[0])

    def test_select_fills_unreached_and_refuses_undeclared(self):
        declared = [{"name": "a.s", "unit": "s"}, {"name": "b.count", "unit": "count"}]
        self.assertEqual(run.select({"a.s": (1.5, "s")}, declared),
                         {"a.s": {"value": 1.5, "unit": "s"},
                          "b.count": {"value": 0.0, "unit": "count"}})
        with self.assertRaises(RuntimeError):
            run.select({"c": (1, "s")}, declared)


if __name__ == "__main__":
    unittest.main()
