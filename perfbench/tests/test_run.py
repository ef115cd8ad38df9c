import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def result(failed):
    """A traced driver result: one untraced and one traced pass, a
    pipeline step holding one call that ran one job."""
    spans = [{"id": 0, "parent": -1, "name": "pipeline:ingest", "start_ms": 0, "end_ms": 100,
              "counters": {}},
             {"id": 1, "parent": 0, "name": "sources:EhrCsv.readEhr", "start_ms": 10, "end_ms": 40,
              "counters": {"jobs": 1, "tasks": 4, "tasks_ok": 4, "executor_cpu_ms": 12}}]
    return {"setup": {"build_ms": 5.0, "warmup_ms": 2.0}, "attempted": 4, "failed": failed,
            "passes": [{"phase": "untraced", "ms": 100.0, "docs": 10},
                       {"phase": "traced", "ms": 110.0, "docs": 10}],
            "trace": {"spans": spans, "jobs": [[1, 12, 30]]}}


class FailureAccountingTest(unittest.TestCase):
    def test_clean_run_reads_zero(self):
        r = result(0)
        m = run.per_layer(r, 1.0, run.failed_total(r, []))
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertEqual(m["op_error_rate"], 0.0)

    def test_failed_output_check_counts_toward_error_rate(self):
        r = result(0)
        failed = run.failed_total(r, ["q1_agg: graft 3 rows vs oracle 4 rows, digests differ"])
        self.assertEqual(failed, 1)
        self.assertEqual(run.per_layer(r, 1.0, failed)["op_error_rate"], 0.25)

    def test_driver_and_runner_failures_add_up(self):
        r = result(1)
        self.assertEqual(run.per_layer(r, 1.0, run.failed_total(r, ["near-dup recall"]))["op_error_rate"],
                         0.5)

    def test_traced_pass_figures(self):
        m = run.per_layer(result(0), 1.0, 0)
        self.assertEqual(m["sources.read_ms"], 30)
        self.assertEqual(m["self_ms.pipeline"], 70)
        self.assertEqual(m["scheduler.driver_gap_ms"], 30 - 18)
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)


if __name__ == "__main__":
    unittest.main()
