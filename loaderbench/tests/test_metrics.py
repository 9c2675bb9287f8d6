"""Unit tests of the benchmark's arithmetic, against hand-computed values.

    python3 -m unittest discover -s loaderbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import run  # noqa: E402

WINDOW_COLS = ["row_id", "__ord", "fetch_id", "__pos", "batch_id",
               "pos_in_batch"]


class SummaryTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(M.median([7]), 7)
        with self.assertRaises(ValueError):
            M.median([])

    def test_percentile(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(M.percentile(xs, 0), 1)
        self.assertEqual(M.percentile(xs, 25), 1.75)
        self.assertEqual(M.percentile(xs, 50), 2.5)
        self.assertEqual(M.percentile(xs, 100), 4)
        self.assertAlmostEqual(M.percentile(range(1, 11), 90), 9.1)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(999), 98)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(10 ** 6), 99.9)


class EntropyTest(unittest.TestCase):
    def test_entropy_bits(self):
        self.assertEqual(M.entropy_bits([5]), 0.0)
        self.assertEqual(M.entropy_bits([1, 1]), 1.0)
        self.assertEqual(M.entropy_bits([1, 1, 1, 1]), 2.0)
        self.assertEqual(M.entropy_bits([2, 1, 1]), 1.5)
        self.assertEqual(M.entropy_bits([3, 0, 3]), 1.0)

    def test_batch_entropies(self):
        labels = [0, 0, 1, 1, 0, 1, 2, 3, 5]
        self.assertEqual(M.batch_entropies(labels, [4, 4, 1]),
                         [1.0, 2.0, 0.0])
        with self.assertRaises(ValueError):
            M.batch_entropies(labels, [4, 4])

    def test_plate_sorted_stream_scores_low_and_shuffled_high(self):
        # 4 plates of 8 rows in file order, batches of 4: one plate each
        sorted_stream = [p for p in range(4) for _ in range(8)]
        self.assertEqual(M.batch_entropies(sorted_stream, [4] * 8), [0.0] * 8)
        # the same rows interleaved: every batch holds all four plates
        mixed = [i % 4 for i in range(32)]
        self.assertEqual(M.batch_entropies(mixed, [4] * 8), [2.0] * 8)


class PrefixTest(unittest.TestCase):
    def test_self_time_is_the_difference_of_consecutive_prefixes(self):
        st = M.self_times([
            ("prefix.collection", 1.0, ["row_id", "genes"]),
            ("prefix.strategy", 1.5, ["row_id", "__ord"]),
            ("prefix.window", 2.5, WINDOW_COLS),
            ("prefix.assemble", 4.0, ["batch_id", "n", "rows"]),
            ("prefix.deliver", 5.25, None)])
        self.assertEqual(st, {"prefix.collection": 1.0,
                              "prefix.strategy": 0.5,
                              "prefix.window": 1.0,
                              "prefix.assemble": 1.5,
                              "prefix.deliver": 1.25})

    def test_a_count_prefix_is_rejected(self):
        # count() checksums no column: the window's columns would be
        # pruned and its "self time" would measure nothing
        with self.assertRaises(ValueError) as e:
            M.self_times([("prefix.strategy", 1.0, ["row_id", "__ord"]),
                           ("prefix.window", 1.1, [])])
        self.assertIn("fetch_id", str(e.exception))

    def test_a_prefix_missing_one_layer_column_is_rejected(self):
        with self.assertRaises(ValueError):
            M.self_times([("prefix.assemble", 1.0, ["batch_id", "n"])])

    def test_overhead(self):
        self.assertAlmostEqual(M.overhead_pct(1.0, 1.25), 20.0)
        self.assertAlmostEqual(M.overhead_pct(1.0, 1.0), 0.0)


def span(i, name, parent, start, end, attrs=None, **spark):
    stats = {k: 0 for k in ("jobs", "tasks", "cpu_ns", "run_ms", "gc_ms",
                            "shuffle_write_bytes", "shuffle_read_bytes",
                            "spill_bytes", "result_bytes", "output_bytes")}
    stats.update(spark)
    return {"id": i, "name": name, "parent": parent, "run": 1,
            "start_s": start, "end_s": end, "attrs": attrs or {},
            "spark": stats}


class LayerMetricsTest(unittest.TestCase):
    def spans(self):
        return [
            span(0, "collection.prepare", -1, 0.0, 4.0, jobs=3,
                 shuffle_write_bytes=100),
            span(1, "collection.union", 0, 0.0, 3.0, jobs=40,
                 shuffle_write_bytes=900),
            span(2, "epoch", -1, 10.0, 20.0),
            span(3, "prefix.collection", 2, 10.0, 11.0,
                 {"checksum_cols": ["row_id"], "rows": 60}, jobs=1, tasks=4,
                 cpu_ns=2 * 10 ** 9),
            span(4, "prefix.strategy", 2, 11.0, 12.5,
                 {"checksum_cols": ["row_id", "__ord"], "rows": 60},
                 jobs=1, tasks=4),
            span(5, "strategy.plan_call", 4, 11.0, 11.25, jobs=1, tasks=1,
                 shuffle_write_bytes=8),
            span(6, "prefix.window", 2, 12.5, 14.5,
                 {"checksum_cols": WINDOW_COLS, "rows": 60}, jobs=3,
                 shuffle_write_bytes=500, gc_ms=250),
            span(7, "prefix.assemble", 2, 14.5, 17.5,
                 {"checksum_cols": ["batch_id", "n", "rows"], "rows": 2},
                 jobs=4, shuffle_write_bytes=1200, spill_bytes=7),
            span(8, "prefix.deliver", 2, 17.5, 20.0,
                 {"first_batch_s": 2.0, "wait_ms_max": 30.0,
                  "waits_over_10ms": 1}, jobs=6, shuffle_write_bytes=1200,
                 result_bytes=5000),
        ]

    def test_loader_layers(self):
        m = M.layer_metrics(self.spans(), [2.0])
        self.assertEqual(m["collection.prepare_s"], 4.0)
        self.assertEqual(m["collection.jobs"], 43)
        self.assertEqual(m["collection.shuffle_write_bytes"], 1000)
        self.assertEqual(m["strategy.plan_call_s"], 0.25)
        self.assertEqual(m["strategy.self_s"], 0.5)       # 1.5 - 1.0
        self.assertEqual(m["strategy.jobs"], 1)           # 1 + 1 - 1
        self.assertEqual(m["strategy.shuffle_write_bytes"], 8)
        self.assertEqual(m["strategy.rows_out"], 60)
        self.assertEqual(m["window.self_s"], 0.5)         # 2.0 - 1.5
        self.assertEqual(m["window.shuffle_write_bytes"], 492)  # 500 - 8
        self.assertEqual(m["assemble.self_s"], 1.0)       # 3.0 - 2.0
        self.assertEqual(m["assemble.shuffle_write_bytes"], 700)
        self.assertEqual(m["assemble.spill_bytes"], 7)
        self.assertEqual(m["assemble.batches"], 2)
        self.assertEqual(m["deliver.self_s"], -0.5)       # 2.5 - 3.0
        self.assertEqual(m["deliver.jobs"], 2)
        self.assertEqual(m["deliver.result_bytes"], 5000)
        self.assertEqual(m["deliver.first_batch_s"], 2.0)
        self.assertEqual(m["deliver.wait_ms_max"], 30.0)
        self.assertEqual(m["spark.tasks"], 9)
        self.assertEqual(m["spark.executor_cpu_s"], 2.0)
        self.assertEqual(m["spark.gc_s"], 0.25)
        self.assertAlmostEqual(m["trace.overhead_pct"], 20.0)  # 2.0 vs 2.5

    def test_absent_layers_report_zero(self):
        m = M.layer_metrics(self.spans(), [2.0])
        self.assertEqual(set(m), set(M.PER_LAYER))
        for k in ("sink.self_s", "sink.files", "ops.exact_s",
                  "ops.confirm_ratio"):
            self.assertEqual(m[k], 0)


class CurateReduceTest(unittest.TestCase):
    def test_recall_and_precision_of_planted_duplicates(self):
        manifest = {"rows": 6, "planted_pairs": [[0, 3, "exact"],
                                                  [1, 4, "near"],
                                                  [2, 5, "near"]]}
        # removed {3, 4, 2}: 3 and 4 planted, 2 a false removal, 5 missed
        kept = M_encode([0, 1, 5])
        raw = {"kept_ids": kept, "warmup": {"digest": "d"},
               "epochs": [{"epoch": 1, "digest": "d"}]}
        checks = run.Checks()
        quality, _ = run.reduce_curate(raw, manifest, checks)
        self.assertAlmostEqual(quality["dedup_recall"][0], 2 / 3)
        self.assertAlmostEqual(quality["dedup_precision"][0], 2 / 3)
        self.assertEqual(len(checks.failures), 2)   # both below 0.95


def M_encode(ids):
    import base64
    import numpy as np
    return base64.b64encode(np.array(ids, dtype="<i8").tobytes()).decode()


if __name__ == "__main__":
    unittest.main()
