"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics
import run


def ex(op, pas, wall, ok=True, **counters):
    return {"exec": hash((op, pas)) & 0xffff, "op": op, "pack": "P", "pass": pas,
            "ok": ok, "wall_s": wall, "build_s": wall / 2, "exec_s": wall / 2,
            "counters": counters}


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        samples = list(range(1, 49))  # 48 samples
        value, pct, n = metrics.tail(samples)
        self.assertEqual(value, 38)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertAlmostEqual(pct, 100 * 38 / 48)
        self.assertEqual(n, 48)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 3)[0], 2)  # rank 5 of 15

    def test_needs_more_than_ten(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11)))[:2], (0, 100 / 11))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5)]), 6)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(8, 12), (-5, 1)]), 7)

    def test_no_children_and_outside_children(self):
        self.assertEqual(metrics.self_time((2, 4), []), 2)
        self.assertEqual(metrics.self_time((2, 4), [(5, 9), (0, 1)]), 2)

    def test_nested_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 9), (2, 3)]), 2)


class TaskUtilTest(unittest.TestCase):
    def test_share_of_cores(self):
        self.assertEqual(metrics.task_util(8.0, 2.0, 4), 1.0)
        self.assertEqual(metrics.task_util(2.0, 2.0, 4), 0.25)

    def test_zero_wall(self):
        self.assertEqual(metrics.task_util(1.0, 0.0, 4), 0.0)


class EndToEndTest(unittest.TestCase):
    def test_cold_warm_and_median(self):
        execs = [ex("a", 0, 3.0), ex("b", 0, 5.0), ex("a", 1, 70.0), ex("b", 1, 70.0),
                 ex("a", 2, 1.0), ex("a", 3, 2.0), ex("a", 4, 9.0),
                 ex("b", 2, 4.0), ex("b", 3, 4.0), ex("b", 4, 1.0)]
        e2e, info = metrics.end_to_end(execs, 6.0)
        self.assertEqual(e2e["setup_s"], 6.0)
        self.assertEqual(e2e["cold_s"], 8.0)
        self.assertEqual(e2e["warm_s"], 2.0 + 4.0)
        self.assertEqual(e2e["op_p50_s"], 3.0)
        self.assertEqual(info["tail_samples"], 6)

    def test_failed_executions_are_not_timed(self):
        execs = [ex("a", 0, 1.0), ex("a", 2, 50.0, ok=False), ex("a", 3, 2.0)]
        self.assertEqual(metrics.end_to_end(execs, 1.0)[0]["warm_s"], 2.0)


class FailuresTest(unittest.TestCase):
    def execs(self):
        return [ex("a", 0, 1.0), ex("b", 0, 1.0), ex("a", 2, 1.0),
                dict(ex("a", -1, 1.0), digest="aa"), dict(ex("b", -1, 1.0), digest="bb")]

    def test_all_correct(self):
        self.assertEqual(metrics.failures(self.execs(), {"a": "aa", "b": "bb"}, ["a", "b"]),
                         (5, 0, []))

    def test_wrong_digest_is_counted(self):
        self.assertEqual(metrics.failures(self.execs(), {"a": "aa", "b": "0" * 24}, ["a", "b"]),
                         (5, 1, ["b"]))

    def test_throw_counts_once(self):
        execs = self.execs()
        execs[2]["ok"] = False
        execs[4] = dict(execs[4], ok=False, digest="")
        self.assertEqual(metrics.failures(execs, {"a": "aa", "b": "bb"}, ["a", "b"]),
                         (5, 2, ["a", "b"]))

    def test_every_digested_execution_is_checked(self):
        execs = [dict(ex("a", p, 1.0), digest=d) for p, d in enumerate(["aa", "ab", "aa"])]
        self.assertEqual(metrics.failures(execs, {"a": "aa"}, ["a"]), (3, 1, ["a"]))

    def test_unchecked_op_fails(self):
        execs = self.execs()[:4]
        self.assertEqual(metrics.failures(execs, {"a": "aa", "b": "bb"}, ["a", "b"]),
                         (4, 1, ["b"]))

    def test_verification_runs_are_not_timed(self):
        execs = [ex("a", 0, 1.0), ex("a", 2, 2.0), dict(ex("a", -1, 50.0), digest="aa")]
        e2e = metrics.end_to_end(execs, 1.0)[0]
        self.assertEqual((e2e["cold_s"], e2e["warm_s"]), (1.0, 2.0))


class LayersTest(unittest.TestCase):
    def test_median_of_pass_sums(self):
        execs = [ex("a", 0, 9.0, jobs=9, task_s=9.0), ex("a", 1, 9.0, jobs=90, task_s=9.0),
                 ex("a", 2, 1.0, jobs=2, task_s=2.0), ex("b", 2, 1.0, jobs=1, task_s=2.0),
                 ex("a", 3, 1.0, jobs=4, task_s=4.0), ex("b", 3, 1.0, jobs=1, task_s=4.0),
                 ex("a", 4, 1.0, jobs=9, task_s=8.0), ex("b", 4, 1.0, jobs=9, task_s=8.0)]
        for i, e in enumerate(execs):
            e["exec"] = i
        lay = metrics.layers({"execs": execs}, cpus=4)
        self.assertEqual(lay["exec.jobs"], 5)  # pass sums 3, 5, 18
        self.assertEqual(lay["exec.task_s"], 8.0)
        self.assertEqual(lay["exec.task_util"], 1.0)  # 8 s over 2 s x 4 cpus
        self.assertEqual(lay["pack.P.warm_s"], 2.0)

    def test_build_self_time_excludes_jobs(self):
        execs = [ex("a", 2, 1.0)]
        execs[0]["exec"] = 0
        spans = [{"name": "operators.build", "exec": 0, "start_ms": 0, "end_ms": 500},
                 {"name": "job.build", "exec": 0, "start_ms": 100, "end_ms": 300}]
        lay = metrics.layers({"execs": execs, "spans": spans}, cpus=4)
        self.assertAlmostEqual(lay["operators.build_self_s"], 0.3)


class CacheLayerTest(unittest.TestCase):
    def test_builds_in_cold_pass_hits_after(self):
        execs = [ex("a", 0, 1.0, cache_builds=2, cache_scans=2, cache_bytes=10),
                 ex("a", 1, 1.0, cache_scans=2, cache_bytes=30),
                 ex("a", 2, 1.0, cache_scans=2, cache_bytes=20)]
        self.assertEqual(metrics.cache_layer(execs),
                         {"cache.builds": 2, "cache.scans": 6,
                          "cache.hit_ratio": 4 / 6, "cache.bytes": 30})


class OrderTest(unittest.TestCase):
    def test_seeded_permutations(self):
        a = run.pass_orders(6, 7, 3)
        self.assertEqual(a, run.pass_orders(6, 7, 3))
        self.assertNotEqual(a, run.pass_orders(6, 8, 3))
        self.assertEqual(len(a), 5)  # cold, settle, three warm
        self.assertEqual(a[0], list(range(6)))  # cold pass in listed order
        for o in a:
            self.assertEqual(sorted(o), list(range(6)))


if __name__ == "__main__":
    unittest.main()
