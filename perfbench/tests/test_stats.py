"""Percentile selection, sample counts and failed-operation accounting."""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402
import stats  # noqa: E402


def op(seconds, ok=True, pass_=1, name="q"):
    return {"name": name, "pass": pass_, "seconds": seconds, "ok": ok,
            "error": "" if ok else "threw"}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_counts(self):
        xs = list(range(1, 101))  # 1..100
        p50 = stats.nearest_rank(xs, 0.5)
        p90 = stats.nearest_rank(xs, 0.9)
        self.assertEqual((p50["value"], p50["samples"], p50["beyond"]), (50, 100, 50))
        self.assertEqual((p90["value"], p90["samples"], p90["beyond"]), (90, 100, 10))

    def test_small_samples_pick_an_observed_value(self):
        self.assertEqual(stats.nearest_rank([3.0], 0.9)["value"], 3.0)
        r = stats.nearest_rank([5.0, 1.0, 3.0], 0.5)
        self.assertEqual((r["value"], r["beyond"]), (3.0, 1))
        self.assertEqual(stats.nearest_rank([4.0, 1.0, 2.0, 3.0], 0.9)["value"], 4.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 0.5)


class AccountingTest(unittest.TestCase):
    def test_failed_ops_never_enter_a_percentile(self):
        ops = [op(1.0), op(0.01, ok=False), op(2.0), op(3.0)]
        acc = stats.account(ops)
        self.assertEqual((acc["attempted"], acc["failed"]), (4, 1))
        self.assertEqual(sorted(acc["times"]), [1.0, 2.0, 3.0])
        self.assertEqual(stats.nearest_rank(acc["times"], 0.5)["value"], 2.0)

    def test_passes_with_a_failure_are_dropped(self):
        ops = [op(1.0, pass_=1), op(1.0, ok=False, pass_=2), op(1.0, pass_=3)]
        passes = [{"pass": p, "seconds": 10.0 + p} for p in (1, 2, 3)]
        self.assertEqual(stats.clean_passes(passes, ops), [11.0, 13.0])

    def test_metrics_report_failures_and_counts(self):
        spec = {"end_to_end": [{"name": "op_p50_s", "unit": "s"},
                               {"name": "pass_s", "unit": "s"}],
                "per_layer": []}
        rec = {"ops": [op(1.0), op(9.0, ok=False), op(3.0, pass_=2)],
               "passes": [{"pass": 1, "seconds": 10.0},
                          {"pass": 2, "seconds": 12.0}],
               "rows_per_pass": 100}
        acc, metrics, samples, _ = run.metrics_of(rec, 1.0, 1.0, spec, False)
        self.assertEqual((acc["attempted"], acc["failed"]), (3, 1))
        self.assertEqual(metrics["op_p50_s"], {"value": 1.0, "unit": "s"})
        self.assertEqual(metrics["pass_s"]["value"], 12.0)
        self.assertEqual(samples["op_p50_s"]["samples"], 2)
        self.assertEqual(samples["pass_s"]["samples"], 1)

    def test_a_wrong_result_in_every_pass_still_reports_times(self):
        spec = {"end_to_end": [{"name": "pass_s", "unit": "s"}], "per_layer": []}
        rec = {"ops": [op(1.0), op(2.0, ok=False)],
               "passes": [{"pass": 1, "seconds": 3.0}], "rows_per_pass": 1}
        acc, metrics, _, _ = run.metrics_of(rec, 1.0, 1.0, spec, False)
        self.assertEqual((acc["attempted"], acc["failed"]), (2, 1))
        self.assertEqual(metrics["pass_s"]["value"], 3.0)

    def test_all_failed_is_an_error_not_a_number(self):
        spec = {"end_to_end": [{"name": "op_p50_s", "unit": "s"}], "per_layer": []}
        rec = {"ops": [op(1.0, ok=False)], "passes": [], "rows_per_pass": 1}
        with self.assertRaises(run.BenchError):
            run.metrics_of(rec, 1.0, 1.0, spec, False)


if __name__ == "__main__":
    unittest.main()
