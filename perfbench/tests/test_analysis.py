"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import analysis  # noqa: E402
import run  # noqa: E402


def span(id, parent, kind, start, end, qid=None, **attrs):
    return {"k": "span", "id": id, "parent": parent, "kind": kind,
            "name": attrs.get("name", kind), "qid": qid, "start": start,
            "end": end, "attrs": attrs}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(analysis.tail_percentile(50), 80)
        self.assertEqual(analysis.tail_percentile(100), 90)
        self.assertEqual(analysis.tail_percentile(34), 70)
        self.assertEqual(analysis.tail_percentile(40), 75)
        self.assertEqual(analysis.tail_percentile(1000), 99)
        self.assertIsNone(analysis.tail_percentile(15))

    def test_nearest_rank(self):
        xs = list(range(1, 51))
        self.assertEqual(analysis.percentile(xs, 50), 25)
        self.assertEqual(analysis.percentile(xs, 80), 40)
        self.assertEqual(analysis.percentile(reversed(xs), 80), 40)
        # exactly ten samples lie beyond the p80 of fifty
        self.assertEqual(sum(x > analysis.percentile(xs, 80) for x in xs), 10)


class GeoMean(unittest.TestCase):
    def test_known_values_and_equal_weight(self):
        self.assertAlmostEqual(analysis.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(analysis.geomean([0.5] * 20), 0.5)
        # doubling the shortest or the longest query moves it alike
        xs = [0.1, 0.4, 2.0]
        a = analysis.geomean([0.2, 0.4, 2.0])
        b = analysis.geomean([0.1, 0.4, 4.0])
        self.assertAlmostEqual(a, b)
        self.assertAlmostEqual(a / analysis.geomean(xs), 2 ** (1 / 3))


class SelfTime(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertAlmostEqual(
            analysis.union_length([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10), 5)
        self.assertEqual(analysis.union_length([], 0, 10), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(1, None, "query", 0.0, 10.0),
                 span(2, 1, "build", 0.0, 4.0),
                 span(3, 1, "execute", 4.0, 9.0),
                 span(4, 3, "job", 5.0, 7.0),
                 span(5, 3, "job", 6.0, 8.0)]
        own = analysis.self_times(spans)
        self.assertAlmostEqual(own[1], 1.0)
        self.assertAlmostEqual(own[2], 4.0)
        self.assertAlmostEqual(own[3], 2.0)
        self.assertAlmostEqual(own[4], 2.0)

    def test_jobs_attach_by_group_then_by_time(self):
        spans = [span(1, None, "workload", 0, 20),
                 span(2, 1, "pass", 0, 20, name="cold"),
                 span(3, 2, "query", 0, 10, qid="cold:0"),
                 span(4, 3, "build", 0, 5, qid="cold:0"),
                 span(5, 3, "execute", 5, 10, qid="cold:0")]
        jobs = [{"id": 0, "group": "cold:0/build", "callsite": "", "start": 6,
                 "end": 7, "ok": True},
                {"id": 1, "group": "stream-run", "callsite": "", "start": 6,
                 "end": 7, "ok": True},
                {"id": 2, "group": "", "start": 15, "end": 16, "callsite": "",
                 "ok": True}]
        parents = [j["parent"] for j in analysis.attach_jobs(spans, jobs)]
        self.assertEqual(parents, [4, 5, 2])


class Permutation(unittest.TestCase):
    names = ["q%02d" % i for i in range(40)]

    def test_reproducible(self):
        self.assertEqual(analysis.permutation(self.names, 7),
                         analysis.permutation(list(reversed(self.names)), 7))

    def test_seed_changes_order_not_members(self):
        a = analysis.permutation(self.names, 1)
        b = analysis.permutation(self.names, 2)
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))


class Outputs(unittest.TestCase):
    expected = {"queries": {"a": {"rows": 3, "hash": "x"},
                            "b": {"rows": 5, "hash": "y"},
                            "c": {"rows": 2, "hash": "z"}},
                "rows_only": ["c"]}

    def q(self, name, **attrs):
        return span(0, None, "query", 0, 1, name=name, **dict(
            {"pass": "cold"}, **attrs))

    def test_throwing_query_counts_as_failed(self):
        bad = analysis.check_outputs(
            [self.q("a", rows=3, hash="x"), self.q("b", error="Boom: x")],
            self.expected)
        self.assertEqual(bad, [("cold", "b", "Boom: x")])

    def test_mismatches(self):
        bad = analysis.check_outputs(
            [self.q("a", rows=3, hash="w"), self.q("b", rows=4, hash="y"),
             self.q("c", rows=2, hash="other"), self.q("d", rows=1, hash="v")],
            self.expected)
        self.assertEqual([(n, r.split()[0]) for _, n, r in bad],
                         [("a", "hash"), ("b", "rows"), ("d", "no")])


class EngineState(unittest.TestCase):
    def test_removes_this_datas_subtrees_and_hashed_siblings_only(self):
        with tempfile.TemporaryDirectory() as tmp:
            paths = ["graft_sinks/perfbench_sf0.1/p_snapshot/part-0",
                     "graft_streams/perfbench_sf0.1/feed_daily/offsets/0",
                     "graft_derby/perfbench_sf0.1_1a2b3c4d/seg0/c10.dat",
                     "graft_derby/derby.log",
                     "graft_derby/sf0.01_5e6f7a8b/seg0/c10.dat",
                     "graft_sinks/sf0.001/p_snapshot/part-0",
                     "graft_sinks/perfbench_sf0.10/part-0",
                     "other/perfbench_sf0.1/part-0"]
            for p in paths:
                os.makedirs(os.path.dirname(os.path.join(tmp, p)), exist_ok=True)
                open(os.path.join(tmp, p), "w").close()
            found = [os.path.relpath(p, tmp) for p in run.engine_state(tmp)]
        self.assertEqual(found, ["graft_derby/perfbench_sf0.1_1a2b3c4d",
                                 "graft_sinks/perfbench_sf0.1",
                                 "graft_streams/perfbench_sf0.1"])


if __name__ == "__main__":
    unittest.main()
