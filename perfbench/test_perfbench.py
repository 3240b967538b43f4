"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import tempfile
import unittest

import gen
import metrics


class PercentileRule(unittest.TestCase):
    def test_full_percentile_when_the_sample_supports_it(self):
        xs = list(range(1, 101))                     # 100 samples
        self.assertEqual(metrics.rank_percentile(xs, 90), (90, 90.0, 100))

    def test_lowered_to_keep_ten_samples_beyond(self):
        xs = list(range(1, 51))                      # 50 samples
        value, eff, n = metrics.rank_percentile(xs, 90)
        self.assertEqual((value, eff, n), (40, 80.0, 50))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_input_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 6
        self.assertEqual(metrics.rank_percentile(xs, 50),
                         metrics.rank_percentile(sorted(xs), 50))

    def test_too_few_samples_reports_none_with_count(self):
        self.assertEqual(metrics.rank_percentile(list(range(10)), 50), (None, None, 10))
        self.assertEqual(metrics.rank_percentile([], 50), (None, None, 0))


def span(i, parent, start, end, name="s", layer="l"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name, "layer": layer, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 40), span(3, 1, 30, 60),   # overlap 30..40
                 span(4, 1, 80, 90),
                 span(5, 2, 15, 20)]                       # grandchild
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - (50 + 10))
        self.assertAlmostEqual(st[2], 30 - 5)
        self.assertAlmostEqual(st[5], 5)

    def test_child_time_outside_the_parent_is_not_subtracted(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 5, 25)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 5)

    def test_layer_self_times_sum_to_the_measured_wall(self):
        spans = [span(1, 0, 0, 100, "measure", "measure"),
                 span(2, 1, 0, 60, "q", "op"), span(3, 2, 0, 20, "build", "operators"),
                 span(4, 2, 20, 55, "exec", "operators.exec")]
        by_layer = metrics.layer_self_ms({"spans": spans})
        self.assertAlmostEqual(sum(by_layer.values()), 100)
        self.assertEqual(by_layer, {"measure": 40, "op": 5, "operators": 20,
                                    "operators.exec": 35})


class FailedShare(unittest.TestCase):
    def test_failed_ops_and_failed_checks_both_count(self):
        self.assertEqual(metrics.failed_share([True, False, True], [True, False]),
                         (5, 2, 0.4))

    def test_all_green(self):
        self.assertEqual(metrics.failed_share([True] * 3, [True]), (4, 0, 0.0))

    def test_nothing_attempted_is_total_failure(self):
        self.assertEqual(metrics.failed_share([], []), (0, 0, 1.0))

    def test_run_ops_count_sentinels_and_timed_ops_only(self):
        spans = [span(1, 0, 0, 100, "measure", "measure"),
                 span(2, 1, 0, 10, "batch", "op"), span(3, 2, 0, 5, "sink_append", "streaming.sink"),
                 span(4, 0, 100, 101, "sentinel", "sentinel"),
                 span(5, 0, 200, 300, "warm", "op")]      # outside measure: not an op
        self.assertEqual([s["id"] for s in metrics.ops({"spans": spans})], [2, 4])


class Generator(unittest.TestCase):
    def gen(self, workload, seed, n):
        d = tempfile.mkdtemp(prefix="perfbench-test-")
        self.addCleanup(shutil.rmtree, d, ignore_errors=True)
        return d, gen.generate(workload, d, seed, n)

    def files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_gives_byte_identical_inputs(self):
        for wl in gen.GENERATORS:
            a, ma = self.gen(wl, 7, 400)
            b, mb = self.gen(wl, 7, 400)
            self.assertEqual(ma, mb)
            self.assertEqual(self.files(a), self.files(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, self.files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), wl)
            for f in self.files(a):
                if f != "manifest.json":    # payload mtimes set the queue order
                    self.assertEqual(os.stat(os.path.join(a, f)).st_mtime,
                                     os.stat(os.path.join(b, f)).st_mtime)

    def test_other_seeds_give_identical_sizes_but_other_inputs(self):
        for wl in gen.GENERATORS:
            a, ma = self.gen(wl, 1, 400)
            b, mb = self.gen(wl, 2, 400)
            strip = lambda m: {k: v for k, v in m.items() if k != "seed"}
            self.assertEqual(strip(ma), strip(mb))
            self.assertEqual(self.files(a), self.files(b))
            payload = self.files(a)[-1]
            with open(os.path.join(a, payload), "rb") as fa, open(os.path.join(b, payload), "rb") as fb:
                self.assertNotEqual(fa.read(), fb.read(), wl)

    def test_ingest_queue_replays_about_a_tenth_of_payloads_later(self):
        d, m = self.gen("ingest_steady", 3, 1000)
        self.assertEqual((m["payloads"], m["replayed"], m["files"]), (100, 10, 110))
        seen, replays = set(), 0
        for f in sorted(os.listdir(os.path.join(d, "queue"))):
            with open(os.path.join(d, "queue", f)) as fh:
                line = fh.read()
            replays += line in seen
            seen.add(line)
        self.assertEqual(replays, 10)


if __name__ == "__main__":
    unittest.main()
