"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests

The Scala helpers (result digests, plan-cache hit detection) are checked by
harness/test/HarnessTest.scala, which test_scala_helpers compiles and runs.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import diff  # noqa: E402
import metrics  # noqa: E402
from stats import percentile, quartiles, self_times, supported, union_length  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_above(self):
        self.assertTrue(supported(100, 0.9))
        self.assertFalse(supported(99, 0.9))
        self.assertTrue(supported(1000, 0.99))
        self.assertFalse(supported(999, 0.99))
        self.assertIsNone(percentile(list(range(99)), 0.9))

    def test_median_needs_one_sample(self):
        self.assertEqual(percentile([7.0], 0.5), 7.0)
        self.assertIsNone(percentile([], 0.5))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 0.9), 90)
        self.assertEqual(percentile(xs, 0.5), 50)

    def test_failed_ops_miss_every_limit(self):
        ops = [{"cls": "mem", "start": 0, "end": 1000, "ok": True} for _ in range(100)]
        ops += [{"cls": "mem", "start": 0, "end": 1000, "ok": False} for _ in range(20)]
        lat, n = metrics.class_latencies(ops)
        self.assertEqual(n["mem"], 120)
        self.assertEqual(lat["facade.mem_ms_p90"], float("inf"))
        self.assertEqual(lat["facade.mem_ms_p50"], 1.0)

    def test_quartiles(self):
        self.assertEqual(quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            # two parallel children overlap: their union is 40..80
            {"id": 2, "parent": 1, "start": 40, "end": 70},
            {"id": 3, "parent": 1, "start": 50, "end": 80},
            # a child running past its parent only counts inside it
            {"id": 4, "parent": 1, "start": 90, "end": 130},
            {"id": 5, "parent": 2, "start": 45, "end": 50},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 25)
        self.assertEqual(st[4], 40)
        self.assertEqual(st[5], 5)


class Digests(unittest.TestCase):
    def test_count_only_queries_compare_row_counts(self):
        expected = {"count_only": ["q68"], "digests": {"q68": "5:aa", "q01": "3:bb"}}
        self.assertEqual(metrics.check_digests({"q68": "5:cc", "q01": "3:bb"}, expected), {})
        bad = metrics.check_digests({"q68": "4:aa", "q01": "3:bc", "q02": "1:00"}, expected)
        self.assertEqual(sorted(bad), ["q01", "q02", "q68"])


class Verdict(unittest.TestCase):
    SPEC = {"better": "lower", "bound": 0.1}

    @staticmethod
    def runs(values, seeds=None):
        return [{"env": {"seed": s}, "end_to_end": {"m": v}}
                for s, v in zip(seeds or range(len(values)), values)]

    def test_change_is_median_of_per_seed_ratios(self):
        # a drift common to both sides cancels seed by seed
        a = self.runs([10, 20, 30, 40])
        b = self.runs([11, 22, 33, 44])
        change, ratios = diff.change_of(a, b, "m")
        self.assertAlmostEqual(change, 0.1)
        self.assertEqual(diff.pair_wins(self.SPEC, ratios), ", B better in 0/4 pairs")
        # without matching seeds, the medians are compared
        b = self.runs([11, 22, 33, 44], seeds=[9, 8, 7, 6])
        change, ratios = diff.change_of(a, b, "m")
        self.assertAlmostEqual(change, 0.1)
        self.assertEqual(ratios, [])

    def test_wide_overlapping_sets_are_unresolved(self):
        xs_a, xs_b = [8, 10, 12, 14], [9, 11, 13, 15]
        self.assertTrue(diff.verdict(self.SPEC, xs_a, xs_b, 0.5).startswith("unresolved"))

    def test_separated_sets_are_resolved_despite_spread(self):
        xs_a, xs_b = [8, 10, 12, 14], [20, 24, 28, 32]
        self.assertTrue(diff.verdict(self.SPEC, xs_a, xs_b, 1.0).startswith("WORSE"))
        self.assertEqual(diff.verdict(self.SPEC, xs_b, xs_a, -0.5), "better")

    def test_steady_sets(self):
        xs_a, xs_b = [10, 10.1, 10.2, 10.3], [10.2, 10.3, 10.4, 10.5]
        self.assertEqual(diff.verdict(self.SPEC, xs_a, xs_b, 0.02), "within bound")
        self.assertTrue(diff.verdict(self.SPEC, xs_a, xs_b, 0.2).startswith("WORSE"))


class Spec(unittest.TestCase):
    def test_benchmark_json_names_every_metric(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)


class ScalaHelpers(unittest.TestCase):
    def test_scala_helpers(self):
        classes, test_classes = build.build(tests=True)
        cp = os.pathsep.join([test_classes, classes, os.path.join(build.spark_jars(), "*")])
        opens = [x for p in ("java.base/java.lang", "java.base/java.nio", "java.base/sun.nio.ch",
                             "java.base/java.util", "java.base/java.lang.invoke")
                 for x in ("--add-opens", p + "=ALL-UNNAMED")]
        tmp = os.path.join(build.OUT, "tmp", "harness-test")
        os.makedirs(tmp, exist_ok=True)
        self.addCleanup(shutil.rmtree, tmp, True)
        r = subprocess.run(
            ["java", "-Xmx1g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "harness",
                                                         "log4j2.properties")]
            + opens + ["-cp", cp, "perfbench.HarnessTest"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300, cwd=tmp,
            env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])


if __name__ == "__main__":
    unittest.main()
