"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (2, 4)]), 3.0)

    def test_overlap_counts_once(self):
        self.assertAlmostEqual(metrics.union_length([(0, 3), (2, 5), (1, 2)]), 5.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0.0)

    def test_union_is_not_the_sum(self):
        # concurrent jobs: their summed time exceeds the wall they cover
        jobs = [(0.0, 4.0), (1.0, 5.0), (2.0, 6.0)]
        self.assertGreater(sum(e - s for s, e in jobs), 6.0)
        self.assertAlmostEqual(metrics.union_length(jobs), 6.0)


class DriverTimeTest(unittest.TestCase):
    def test_span_minus_job_union(self):
        self.assertAlmostEqual(metrics.driver_time((0, 10), [(1, 3), (2, 4), (6, 7)]), 6.0)

    def test_jobs_are_clipped_to_the_span(self):
        self.assertAlmostEqual(metrics.driver_time((0, 10), [(-5, 2), (9, 20)]), 7.0)

    def test_no_jobs_is_all_driver(self):
        self.assertAlmostEqual(metrics.driver_time((2, 5), []), 3.0)


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        value, pct, n = metrics.tail(list(reversed(xs)))
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_smallest_qualifying_sample(self):
        value, pct, n = metrics.tail([float(i) for i in range(11)])
        self.assertEqual(value, 0.0)
        self.assertAlmostEqual(pct, 100.0 / 11)
        self.assertEqual(n, 11)

    def test_ties_count_by_rank(self):
        value, pct, _ = metrics.tail([1.0] * 15 + [2.0] * 5)
        self.assertEqual((value, pct), (1.0, 50.0))


class FailedFracTest(unittest.TestCase):
    def test_denominator_is_every_attempt(self):
        self.assertAlmostEqual(metrics.failed_frac([True, False, True, False]), 0.5)
        self.assertEqual(metrics.failed_frac([True] * 7), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac([])

    def test_failed_ops_lower_ok_frac(self):
        ops = [{"round": 1, "kind": "a", "cls": "read", "s": 1.0, "ok": ok}
               for ok in (True, True, False, True)]
        raw = {"ops": ops, "cycle": 1, "setup_s": 1.0, "heap_mb": 1.0, "stored_bytes": 1,
               "user_bytes": 1, "recall": []}
        m = metrics.end_to_end(raw)
        self.assertAlmostEqual(m["ok_frac"], 0.75)
        self.assertAlmostEqual(m["ops_per_s"], 1.0)
        self.assertAlmostEqual(m["answer_recall"], 0.75)


class RoleMeanTest(unittest.TestCase):
    def test_mean_over_the_role_only(self):
        ops = [{"kind": "a", "cls": "write", "s": s} for s in (1.0, 2.0, 3.0)]
        ops += [{"kind": "b", "cls": "write", "s": 6.0}, {"kind": "c", "cls": "read", "s": 7.0}]
        self.assertAlmostEqual(metrics.role_mean(ops, "write"), 3.0)
        self.assertEqual(metrics.role_mean(ops, "refresh"), 0.0)


class CycleMedianTest(unittest.TestCase):
    def test_median_over_cycles(self):
        def op(rnd, s):
            return {"round": rnd, "kind": "a", "cls": "write", "s": s, "ok": True}
        # cycles of two rounds; the second cycle is slow throughout
        ops = [op(2, 1.0), op(3, 1.0), op(4, 3.0), op(5, 3.0), op(6, 1.0), op(7, 2.0)]
        raw = {"ops": ops, "cycle": 2, "setup_s": 1.0, "heap_mb": 1.0, "stored_bytes": 1,
               "user_bytes": 1, "recall": []}
        m = metrics.end_to_end(raw)
        self.assertAlmostEqual(m["write_mean_s"], 1.5)
        self.assertAlmostEqual(m["ops_per_s"], 2 / 3.0)


class PerLayerTest(unittest.TestCase):
    def raw(self):
        s = 1_000_000  # microseconds per second
        spans = [
            {"id": 1, "parent": 0, "name": "Sampler.exact", "start_us": 10 * s, "end_us": 12 * s, "attrs": {}},
            {"id": 2, "parent": 0, "name": "ParquetIO.write", "start_us": 12 * s, "end_us": 15 * s,
             "attrs": {"rows": 10.0, "files": 2.0, "bytes_per_row": 40.0}},
            {"id": 0, "parent": -1, "name": "op.sample_attrib", "start_us": 10 * s, "end_us": 16 * s, "attrs": {}},
        ]
        job = {"tasks": 4, "run_ms": 800, "gc_ms": 0, "in_bytes": 2_000_000, "in_records": 500,
               "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        jobs = [dict(job, id=0, start_ms=10_500, end_ms=11_500),
                dict(job, id=1, start_ms=12_000, end_ms=13_000),
                dict(job, id=2, start_ms=12_500, end_ms=14_000)]
        return {"spans": spans, "jobs": jobs}

    def test_jobs_attributed_by_span(self):
        out = metrics.per_layer(self.raw())
        self.assertEqual(out["Sampler.jobs"], 1.0)
        self.assertAlmostEqual(out["Sampler.driver_s"], 1.0)
        self.assertAlmostEqual(out["Sampler.input_mb"], 2.0)
        self.assertEqual(out["ParquetIO.write.jobs"], 2.0)
        self.assertAlmostEqual(out["ParquetIO.write.driver_s"], 1.0)
        # lazy work: rows read over the whole operation, per row kept
        self.assertAlmostEqual(out["Sampler.rows_read_per_row_kept"], 1500 / 10)
        self.assertAlmostEqual(out["spark.jobs_per_op"], 3.0)
        self.assertAlmostEqual(out["spark.driver_only_frac"], 3.0 / 6.0)

    def test_table_state_is_a_mean_over_commits(self):
        raw = self.raw()
        s = 1_000_000
        for i, dv in enumerate((0.0, 1.0, 0.0)):
            raw["spans"].append({"id": 10 + i, "parent": -1, "name": "op.append", "start_us": (20 + i) * s,
                                 "end_us": (21 + i) * s,
                                 "attrs": {"segments_live": 2.0, "dv_files": dv, "bytes_on_disk": 100.0}})
        out = metrics.per_layer(raw)
        self.assertAlmostEqual(out["TxLog.dv_files"], 1 / 3)
        self.assertAlmostEqual(out["TxLog.segments_live"], 2.0)

    def test_idle_layers_read_zero(self):
        out = metrics.per_layer(self.raw())
        self.assertEqual(out["TxLog.upsert.jobs"], 0.0)
        self.assertEqual(out["IndexFollower.hnsw.advance_wall_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
