"""perf_ab.py pairs runs by seed, summarizes them per metric and runs perfbench
untraced for the benchmark's own run length.

    python3 tools/test_perf_ab.py
"""
import contextlib
import io
import os
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_ab  # noqa: E402


def result(failed=0, attempted=9, **metrics):
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


def runs(parent, change):
    """The runs object of main(): {side: {seed: result or None}}."""
    return {"parent": parent, "change": change}


def row(lines, metric):
    """The summary row of one metric, split on whitespace."""
    return next(l.split() for l in lines if l.split()[0] == metric)


class PerfAbTest(unittest.TestCase):

    def test_seeds_and_alternating_order(self):
        self.assertEqual(perf_ab.parse_seeds("21-24"), [21, 22, 23, 24])
        self.assertEqual(perf_ab.parse_seeds("3"), [3])
        self.assertEqual(perf_ab.parse_seeds("1,5-6"), [1, 5, 6])
        self.assertEqual(perf_ab.order(0), ("parent", "change"))
        self.assertEqual(perf_ab.order(1), ("change", "parent"))
        self.assertEqual(perf_ab.order(2), ("parent", "change"))

    def test_medians_ratios_and_per_seed_pairs(self):
        parent = {21: 3.0, 22: 3.2, 23: 3.4}
        change = {21: 2.0, 22: 2.4, 23: 1.7}
        out = perf_ab.summarize(
            runs({s: result(job_s=v, rows_per_s=100 / v) for s, v in parent.items()},
                 {s: result(job_s=v, rows_per_s=100 / v) for s, v in change.items()}),
            {"job_s": "lower", "rows_per_s": "higher"})
        job = row(out, "job_s")
        self.assertEqual(float(job[1]), 3.2)
        self.assertEqual(float(job[2]), 2.0)
        self.assertAlmostEqual(float(job[3]), 2.0 / 3.2, places=3)
        self.assertEqual(job[6], "3/3")
        self.assertEqual(job[7:], ["0.667", "0.750", "0.500"])
        # Higher is better for a rate: the same runs win there too.
        self.assertEqual(row(out, "rows_per_s")[6], "3/3")
        # The parent's quartile spread: quantiles(n=4) of 3.0, 3.2, 3.4.
        self.assertAlmostEqual(float(job[4]), 0.4 / 3.2, places=3)
        # The change's, in units of the parent's median: quantiles(n=4) of
        # 1.7, 2.0, 2.4 are 1.7 and 2.4.
        self.assertAlmostEqual(float(job[5]), 0.7 / 3.2, places=3)
        # A faster change spreads a rate wider in parent units than in its own.
        rate = row(out, "rows_per_s")
        rates = sorted(100 / v for v in change.values())
        self.assertAlmostEqual(float(rate[5]), (rates[2] - rates[0]) / (100 / 3.2), places=3)

    def test_a_missing_run_drops_its_pair_and_is_reported(self):
        out = perf_ab.summarize(
            runs({1: result(job_s=2.0), 2: result(job_s=4.0)},
                 {1: result(job_s=1.0, failed=2), 2: None}),
            {"job_s": "lower"})
        self.assertIn("parent: 2 runs, 0 of 18 operations failed", out)
        self.assertIn("change: 1 runs, 2 of 9 operations failed, no result for seeds [2]", out)
        job = row(out, "job_s")
        self.assertEqual(float(job[1]), 3.0)   # both parent runs count in its median
        self.assertEqual(job[6], "1/1")        # only seed 1 is a pair
        self.assertEqual(job[7:], ["0.500"])

    def test_complete_only_when_every_run_has_a_result_and_no_failure(self):
        ok = runs({1: result(job_s=1.0)}, {1: result(job_s=0.9)})
        self.assertTrue(perf_ab.complete(ok))
        self.assertFalse(perf_ab.complete(runs({1: None, 2: None}, {1: result(), 2: result()})))
        self.assertFalse(perf_ab.complete(runs({1: result()}, {1: result(failed=1)})))

    def test_main_exits_nonzero_after_the_summary_when_a_side_has_no_result(self):
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        results = {"parent": None, "change": result(job_s=1.0)}
        argv = ["perf_ab.py", "--parent", "p", "--change", here, "--workload", "curation",
                "--seeds", "1-2"]
        out = io.StringIO()
        with mock.patch.object(sys, "argv", argv), \
                mock.patch.object(perf_ab, "run_one",
                                  lambda checkout, *a: results["change" if checkout == here
                                                              else "parent"]), \
                contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            with self.assertRaises(SystemExit) as exit_:
                perf_ab.main()
        self.assertEqual(exit_.exception.code, 1)
        self.assertIn("parent: 0 runs, 0 of 0 operations failed, no result for seeds [1, 2]",
                      out.getvalue())

    def test_worse_change_counts_no_win_and_unknown_direction_shows_dash(self):
        out = perf_ab.summarize(runs({1: result(job_s=1.0, extra=5.0)},
                                     {1: result(job_s=1.5, extra=5.0)}),
                                {"job_s": "lower"})
        self.assertEqual(row(out, "job_s")[6], "0/1")
        self.assertEqual(row(out, "extra")[6], "-")
        self.assertEqual(row(out, "extra")[4], "-")   # one run: no spread
        self.assertEqual(row(out, "extra")[5], "-")

    def test_run_length_and_directions_come_from_benchmark_json(self):
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        bench = perf_ab.benchmark(here)
        better = perf_ab.directions(bench)
        self.assertEqual(better.get("job_s"), "lower")
        self.assertEqual(better.get("rows_per_s"), "higher")
        cmd = perf_ab.command(here, "etl_ref", 21, bench["run_seconds"])
        self.assertEqual(cmd[cmd.index("--seconds") + 1], str(bench["run_seconds"]))
        self.assertEqual(cmd[cmd.index("--trace") + 1], "0")
        self.assertEqual(cmd[cmd.index("--seed") + 1], "21")

if __name__ == "__main__":
    unittest.main()
