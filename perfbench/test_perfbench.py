"""Tests of the benchmark's own helpers. From the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import os
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p99_kept_when_ten_samples_lie_beyond(self):
        xs = list(range(1, 1001))  # 1000 samples: p99 is 990, 10 above it
        self.assertEqual(stats.tail_percentile(xs, 0.99), (990, 0.99, 1000))

    def test_p99_lowered_until_ten_samples_lie_beyond(self):
        xs = list(range(1, 501))
        v, p, n = stats.tail_percentile(xs, 0.99)
        self.assertEqual((v, n), (490, 500))
        self.assertAlmostEqual(p, 0.98)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median_is_nearest_rank_and_order_free(self):
        self.assertEqual(stats.tail_percentile([5, 1, 4, 2, 3] * 5, 0.5)[0], 3)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail_percentile([3, 1, 2], 0.99), (1, 1 / 3, 3))
        with self.assertRaises(ValueError):
            stats.tail_percentile([], 0.5)


class DueTime(unittest.TestCase):
    def test_latency_counts_from_due_not_send(self):
        due = [0, 10_000_000, 20_000_000]
        send = [0, 15_000_000, 20_000_000]  # second batch went out 5 ms late
        ack = [1_000_000, 16_000_000, 21_000_000]
        self.assertEqual(stats.due_latencies_ms(due, ack), [1.0, 6.0, 1.0])
        self.assertEqual(stats.lateness_ms(due, send), [0.0, 5.0, 0.0])

    def test_send_before_due_is_not_lateness(self):
        self.assertEqual(stats.lateness_ms([100], [90]), [0.0])

    def test_landed_at_first_progress_reaching_the_sequence(self):
        progress = [(100, 0), (200, 256), (300, 256), (400, 1024)]
        self.assertEqual(stats.landed_ns([1, 256, 257, 1024], progress),
                         [200, 200, 400, 400])
        with self.assertRaises(ValueError):
            stats.landed_ns([1025], progress)


class Fingerprints(unittest.TestCase):
    q01 = {"name": "q01", "rows": 6, "hash": "-12", "error": None, "s": 2.0}
    q02 = {"name": "q02", "rows": 3, "hash": "7", "error": None, "s": 1.0}
    passes = [[q01, q02], [dict(q01, s=1.5), dict(q02, s=1.25)]]

    def test_mismatch_and_error_count_as_failures(self):
        want = {"q01": {"rows": 6, "hash": "-12"}, "q02": {"rows": 3, "hash": "8"}}
        self.assertEqual(stats.fingerprint_failures(self.passes, want), ["q02", "q02"])
        broken = [[self.q01], [dict(self.q01, error="boom")]]
        self.assertEqual(stats.fingerprint_failures(broken, want), ["q01"])
        self.assertEqual(len(stats.fingerprint_failures(self.passes, {})), 4)

    def test_capture_requires_agreeing_passes(self):
        self.assertEqual(stats.capture_fingerprints({"passes": self.passes}),
                         {"q01": {"rows": 6, "hash": "-12"}, "q02": {"rows": 3, "hash": "7"}})
        drift = [[self.q01], [dict(self.q01, hash="5")]]
        with self.assertRaises(ValueError):
            stats.capture_fingerprints({"passes": drift})

    def test_suite_is_the_median_pass(self):
        passes = self.passes + [[dict(self.q01, s=9.0), self.q02]]
        self.assertEqual(stats.pass_seconds(passes), [3.0, 2.75, 10.0])
        self.assertEqual(stats.query_detail({"passes": passes}),
                         {"q01": {"s": 2.0}, "q02": {"s": 1.0}})

    def test_fingerprint_ignores_order_and_partitioning(self):
        root = HERE.parent
        cp = build.ensure_built(root)
        cmd = ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-Xmx1g", "-cp", os.pathsep.join(cp), "perfbench.FingerprintCheck"]
        res = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=300)
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-2000:])


class MetricNames(unittest.TestCase):
    def test_rule(self):
        for ok in ("setup_s", "q.q111.task_s", "suite.cold_pass_s", "a-b", "9x"):
            self.assertTrue(stats.valid_metric_name(ok), ok)
        for bad in ("", ".x", "_x", "a b", "q/1", "é", "x" * 65):
            self.assertFalse(stats.valid_metric_name(bad), bad)


if __name__ == "__main__":
    unittest.main()
