"""Tests of the benchmark's own metric code: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402

SPEC = {"loop": "closed", "latency_limit_s": 1.0}


def result(ops):
    return {"ops": ops, "setup_s": 1.0, "heap_live_mb": 100.0, "window_s": 10.0}


def op(i, wall, ok=True):
    return {"op": i, "key": f"q{i}", "ok": ok, "wall_s": wall,
            "rows": 1, "digest": "7", "error": None if ok else "boom"}


class PercentileTest(unittest.TestCase):
    def test_supported_percentiles(self):
        vals = list(range(1, 21))
        self.assertEqual(metrics.percentile(vals, 50), 10)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)

    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(19)), 50)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class FailureCountingTest(unittest.TestCase):
    def test_failed_operation_counts_and_is_not_dropped(self):
        ops = [op(i, 0.5) for i in range(19)] + [op(19, 3.0, ok=False)]
        attempted, failed, e2e = metrics.end_to_end(result(ops), SPEC)
        self.assertEqual((attempted, failed), (20, 1))
        self.assertAlmostEqual(e2e["ok_frac"], 0.95)
        self.assertAlmostEqual(e2e["slo_frac"], 0.95)
        # its time stays in the latency sample and in the throughput base
        self.assertAlmostEqual(e2e["ops_per_s"], 19 / (19 * 0.5 + 3.0))

    def test_wrong_output_is_a_failure(self):
        fp = run.os.path.join(run.HERE, "fingerprints.json")
        import json
        key = next(iter(json.load(open(fp))))
        r = result([dict(op(0, 0.5), key=key, rows=-1)])
        run.check("queries", r)
        self.assertFalse(r["ops"][0]["ok"])
        self.assertIn("committed", r["ops"][0]["error"])


if __name__ == "__main__":
    unittest.main()
