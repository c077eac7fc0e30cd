"""Unit tests for the benchmark's pure helpers and its input generator.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def span(id_, start, end, parent=-1, name="s"):
    return {"id": id_, "name": name, "label": "", "parent": parent,
            "start": start, "end": end, "attrs": {}}


def stage(id_, tasks=1, submitted=0.0, launch_sum=0.0, **kw):
    s = {c: 0 for c in analysis.COUNTERS[:-1]}
    s.update(id=id_, tasks=tasks, submitted=submitted, launch_sum=launch_sum)
    s.update(kw)
    return s


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(analysis.percentile(xs, 50), 50)
        self.assertEqual(analysis.percentile(xs, 90), 90)
        self.assertEqual(analysis.percentile([7], 99), 7)

    def test_only_percentiles_with_ten_samples_beyond(self):
        self.assertEqual(analysis.supported_percentiles(list(range(19))), {})
        self.assertEqual(set(analysis.supported_percentiles(list(range(20)))), {50})
        self.assertEqual(set(analysis.supported_percentiles(list(range(99)))), {50})
        self.assertEqual(set(analysis.supported_percentiles(list(range(100)))), {50, 90})
        self.assertEqual(set(analysis.supported_percentiles(list(range(1000)))), {50, 90, 99})

    def test_summary_reports_the_highest_supported_percentile_and_count(self):
        s = analysis.latency_summary([float(x) for x in range(1, 101)])
        self.assertEqual((s["p50"], s["tail"], s["tail_pct"], s["n"]), (50.0, 90.0, 90.0, 100))
        s = analysis.latency_summary([1.0] * 5)
        self.assertEqual((s["p50"], s["tail"], s["n"]), (0.0, 0.0, 5))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(analysis.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(analysis.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(analysis.union_length([]), 0)
        self.assertEqual(analysis.union_length([(5, 5), (3, 1)]), 0)

    def test_self_time_subtracts_the_covered_part_of_children(self):
        spans = [span(1, 0, 100), span(2, 10, 30, 1), span(3, 20, 50, 1),
                 span(4, 90, 120, 1), span(5, 25, 28, 2)]
        st = analysis.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)  # [10, 50] and [90, 100]
        self.assertEqual(st[2], 20 - 3)
        self.assertEqual(st[5], 3)

    def test_coverage_counts_top_level_spans_once(self):
        spans = [span(1, 0, 40), span(2, 10, 20, 1), span(3, 40, 95)]
        self.assertAlmostEqual(analysis.coverage(spans, 0, 100), 0.95)
        self.assertGreaterEqual(analysis.coverage(spans, 0, 100), 0.95)
        self.assertLess(analysis.coverage(spans[:2], 0, 100), 0.95)


class Fold(unittest.TestCase):
    def test_jobs_fold_into_their_span_and_its_ancestors(self):
        spans = [span(1, 0, 100), span(2, 10, 50, 1), span(3, 60, 90)]
        jobs = [{"id": 0, "span": 2, "start": 11, "end": 20, "stages": [0, 1]},
                {"id": 1, "span": 2, "start": 21, "end": 30, "stages": [1, 2]},
                {"id": 2, "span": 3, "start": 61, "end": 70, "stages": [3]},
                {"id": 3, "span": -1, "start": 95, "end": 99, "stages": [4]}]
        stages = [stage(0, tasks=2, submitted=10.0, launch_sum=24.0, input_bytes=100),
                  stage(1, tasks=1, output_bytes=7),
                  stage(2, tasks=0),  # skipped: no tasks ran
                  stage(3, tasks=3, run_ms=30, failed_tasks=1),
                  stage(4, tasks=9)]
        own, incl, total = analysis.fold(spans, jobs, stages)
        self.assertEqual(own[2]["jobs"], 2)
        self.assertEqual(own[2]["stages"], 2)  # stage 1 once, stage 2 skipped
        self.assertEqual(own[2]["tasks"], 3)
        self.assertEqual(own[2]["task_wait_ms"], 24.0 - 2 * 10.0)
        self.assertEqual(own[1]["jobs"], 0)
        self.assertEqual(incl[1]["jobs"], 2)
        self.assertEqual(incl[1]["input_bytes"], 100)
        self.assertEqual(total["jobs"], 3)  # the job outside every span is left out
        self.assertEqual(total["tasks"], 6)
        self.assertEqual(total["failed_tasks"], 1)
        m = analysis.engine_metrics(total)
        self.assertEqual(m["spark.executor_run_s"], 0.03)
        self.assertEqual(m["spark.output_mb"], 7 / analysis.MB)


class Generator(unittest.TestCase):
    def _digest(self, root):
        import hashlib
        h = hashlib.sha256()
        for d, _, names in sorted(os.walk(root)):
            for n in sorted(names):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
        return h.hexdigest()

    def test_same_seed_same_inputs_and_manifest(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.gen_afc("afc_nightly", 5, os.path.join(t, "a"))
            b = gen.gen_afc("afc_nightly", 5, os.path.join(t, "b"))
            c = gen.gen_afc("afc_nightly", 6, os.path.join(t, "c"))
            self.assertEqual(a, b)
            self.assertNotEqual(a["reports"], c["reports"])
            self.assertEqual(self._digest(os.path.join(t, "a", "input")),
                             self._digest(os.path.join(t, "b", "input")))

    def test_afc_manifest_plants_every_defect(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.gen_afc("afc_nightly", 1, os.path.join(t, "a"))
        self.assertEqual(len(m["remaining"]), 2)  # corrupt book, unclassifiable sheet
        for report in gen.REPORT_ORDER:
            r = m["reports"][report]
            self.assertGreater(r["rejected"], 0)
            self.assertEqual(r["gaps"], 1)
        self.assertGreater(m["reports"][gen.TL]["duplicates"], 0)
        self.assertGreater(m["reports"][gen.OCC]["duplicates"], 0)

    def test_curation_keeps_one_id_per_cluster(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.gen_curation(1, os.path.join(t, "c"))
        self.assertLess(len(m["kept_ids"]), m["docs"])
        self.assertEqual(len(set(m["kept_ids"])), len(m["kept_ids"]))
        near = set(m["near_ids"])
        self.assertTrue(near)
        self.assertLess(len(near & set(m["kept_ids"])), len(near) / 2)


class CurationCheck(unittest.TestCase):
    # clusters 1-3 kept by their minimum id; cluster 3 has 200 near copies
    expected = {"kept_ids": [1, 2, 3], "near_ids": [3] + list(range(100, 300)), "docs": 400}

    def check(self, kept):
        return run.verify("curation_batch", self.expected, {"kept_ids": kept})[1]

    def test_an_unlinked_near_copy_lowers_recall_but_does_not_fail(self):
        self.assertEqual(self.check([1, 2, 3]), 0)
        self.assertEqual(self.check([1, 2, 3, 100]), 0)
        self.assertEqual(run.near_dup_recall(self.expected, {"kept_ids": [1, 2, 3, 100]}), 0.995)
        self.assertEqual(run.near_dup_recall(self.expected, {"kept_ids": [1, 2, 3]}), 1.0)

    def test_losing_near_duplicate_removal_fails(self):
        every_near_copy = [1, 2, 3] + list(range(100, 300))
        self.assertEqual(run.near_dup_recall(self.expected, {"kept_ids": every_near_copy}), 0.0)
        self.assertEqual(self.check(every_near_copy), 200)
        self.assertEqual(self.check([1, 2, 3] + list(range(100, 103))), 3)  # recall 0.985

    def test_any_other_difference_fails(self):
        self.assertEqual(self.check([1, 2, 3, 6]), 1)  # an exact copy or gated doc kept
        self.assertEqual(self.check([1, 2]), 1)  # a cluster minimum dropped
        self.assertEqual(self.check([1, 100]), 2)


class OverheadBaseline(unittest.TestCase):
    def test_same_seed_first_then_every_seed_of_the_build(self):
        walls = {"1": [10.0, 12.0, 11.0], "2": [20.0]}
        self.assertEqual(analysis.untraced_baseline(walls, 1), 11.0)
        self.assertEqual(analysis.untraced_baseline(walls, 2), 20.0)
        self.assertEqual(analysis.untraced_baseline(walls, 3), 11.5)


if __name__ == "__main__":
    unittest.main()
