"""Unit tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import metrics


def span(id_, name, parent, start, end, **extra):
    return {"id": id_, "name": name, "parent": parent, "start_ms": start,
            "end_ms": end, "wall_ms": float(end - start), "extra": extra}


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 7)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(0, 5), (3, 8)], 0, 10), 8)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)], 0, 10), 10)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 3), (8, 20)], 0, 10), 5)
        self.assertEqual(metrics.union_length([(10, 12), (-3, 0)], 0, 10), 0)

    def test_unsorted_and_empty(self):
        self.assertEqual(metrics.union_length([(6, 9), (1, 4), (3, 7)], 0, 10), 8)
        self.assertEqual(metrics.union_length([], 0, 10), 0)


class SelfAndDriverTime(unittest.TestCase):
    def setUp(self):
        self.spans = [span(0, "e2e", -1, 0, 100),
                      span(1, "a", 0, 10, 40), span(2, "b", 0, 30, 60),
                      span(3, "c", 2, 35, 45)]

    def test_self_time_subtracts_the_union_of_children(self):
        self.assertEqual(metrics.self_ms(self.spans[0], self.spans), 50)
        self.assertEqual(metrics.self_ms(self.spans[1], self.spans), 30)
        self.assertEqual(metrics.self_ms(self.spans[2], self.spans), 20)
        self.assertEqual(metrics.self_ms(self.spans[3], self.spans), 10)

    def test_self_time_is_never_negative(self):
        for s in self.spans:
            self.assertGreaterEqual(metrics.self_ms(s, self.spans), 0)

    def test_driver_time_is_span_time_with_no_task_running(self):
        tasks = [(0, 20), (15, 25), (50, 120)]
        self.assertEqual(metrics.driver_ms(self.spans[0], tasks), 100 - 25 - 50)
        self.assertEqual(metrics.driver_ms(self.spans[1], tasks), 30 - 15)
        self.assertEqual(metrics.driver_ms(self.spans[3], tasks), 10)


class Attribution(unittest.TestCase):
    def test_innermost_span_and_touching_siblings(self):
        spans = [span(0, "e2e", -1, 0, 100), span(1, "a", 0, 10, 40),
                 span(2, "b", 0, 40, 60)]
        self.assertEqual(metrics.innermost(spans, 5), 0)
        self.assertEqual(metrics.innermost(spans, 20), 1)
        self.assertEqual(metrics.innermost(spans, 40), 2)
        self.assertIsNone(metrics.innermost(spans, 101))

    def test_span_records_attribute_events(self):
        run = {"spans": [span(0, "e2e", -1, 0, 100),
                         span(1, "PageRank.run", 0, 10, 60, iterations=3.0),
                         span(2, "ranks.write", 0, 60, 90)],
               "events": {"jobs": [[0, 12], [1, 30], [2, 61]],
                          "stages": [[0, 0, 12], [1, 0, 31], [2, 0, 62]],
                          # launch, finish, run ms, gc ms, shuffle B, out B, in B
                          "tasks": [[12, 20, 8, 1, 100, 0, 5],
                                    [31, 50, 19, 2, 200, 0, 0],
                                    [62, 80, 18, 0, 0, 700, 0]]}}
        recs = {r["name"]: r for r in metrics.span_records(run)}
        pr, rw, root = recs["PageRank.run"], recs["ranks.write"], recs["e2e"]
        self.assertEqual((pr["jobs"], pr["stages"], pr["task_ms"], pr["gc_ms"]), (2, 2, 27, 3))
        self.assertEqual(pr["shuffle_write_bytes"], 300)
        self.assertEqual(pr["iterations"], 3.0)
        self.assertEqual(pr["driver_ms"], 50 - 8 - 19)
        self.assertEqual((rw["jobs"], rw["bytes_written"]), (1, 700))
        self.assertEqual((root["jobs"], root["self_ms"]), (0, 20))
        values = metrics.layer_values(recs.values())
        self.assertEqual(values["PageRank.run.iterations"], 3.0)
        self.assertEqual(values["ranks.write.jobs"], 1)
        self.assertEqual(values["Triangles.count.wall_ms"], 0.0)
        self.assertEqual(values["e2e.wall_ms"], 100.0)
        self.assertEqual(set(values), set(metrics.layer_metric_units()))


class Statistics(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q1, med, q3 = metrics.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, statistics.median(xs))
        self.assertEqual(metrics.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_halves(self):
        self.assertEqual(metrics.halves([1, 2, 3, 10, 11]), (1.5, 10.5))
        self.assertIsNone(metrics.halves([4]))

    def test_metric_names_fit_the_limits(self):
        names = metrics.layer_metric_units()
        self.assertLessEqual(len(names), 128)
        for n in names:
            self.assertLessEqual(len(n), 64)


if __name__ == "__main__":
    unittest.main()
