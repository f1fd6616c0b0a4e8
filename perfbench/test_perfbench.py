"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench
"""

import hashlib
import os
import tempfile
import unittest

import check
import gen
import metrics


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_smallest_sample_count_with_a_tail_above_the_median(self):
        value, pct, n = metrics.tail(range(21))
        self.assertEqual((value, n), (10, 21))
        self.assertAlmostEqual(pct, 100.0 * 11 / 21)

    def test_too_few_samples_report_the_maximum(self):
        # at 11-20 samples the rule's percentile is at or below the median
        self.assertEqual(metrics.tail(range(20)), (19, 100.0, 20))
        self.assertEqual(metrics.tail(range(10)), (9, 100.0, 10))
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class FrameToModule(unittest.TestCase):
    def test_innermost_graft_frame_names_the_package(self):
        frames = ["graft.state.StateLog.writeRow(StateLog.scala:124)",
                  "graft.orchestrate.PipelineRunner.withRetry(Pipeline.scala:130)"]
        self.assertEqual(metrics.module_of(frames), "state")
        self.assertEqual(metrics.module_of(
            ["graft.dedup.Dedup$.d20PrefixJoin(Dedup.scala:253)"]), "dedup")

    def test_top_level_object_is_its_own_module(self):
        self.assertEqual(metrics.module_of(["graft.Tables$.events(Tables.scala:70)"]), "tables")

    def test_no_frame_falls_back_to_the_span(self):
        self.assertEqual(metrics.module_of([], "sql"), "sql")
        self.assertEqual(metrics.module_of([], "dedup_d22"), "dedup")
        self.assertEqual(metrics.module_of([], ""), "other")
        self.assertEqual(metrics.module_of(["perfbench.Main$.main(Main.scala:1)"], "pass"),
                         "other")

    def test_streaming_jobs_split_by_what_they_write(self):
        write = "Execute InsertIntoHadoopFsRelationCommand file:/w/lake/.staging/batch-3, false"
        journal = "Execute InsertIntoHadoopFsRelationCommand file:/w/state.append-1f2e, false"
        self.assertEqual(metrics.module_of([], "", True, write), "sink")
        self.assertEqual(metrics.module_of([], "", True, journal), "state")
        self.assertEqual(metrics.module_of([], "", True, "CollectLimit 1"), "streaming")

    def test_frames_win_over_streaming(self):
        frames = ["graft.sink.Sinks$.quarantine(Sinks.scala:208)"]
        self.assertEqual(metrics.module_of(frames, "", True, "CollectLimit 1"), "sink")


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertAlmostEqual(metrics.union_s([(0, 1000), (500, 1500), (3000, 3500)]), 2.0)
        self.assertEqual(metrics.union_s([]), 0.0)


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d, 2)
            return tree_digest(d)

    def test_same_seed_same_inputs(self):
        for w in ("etl_small", "stream_ingest", "corpus_dedup"):
            with self.subTest(workload=w):
                self.assertEqual(self.digest(w, 7), self.digest(w, 7))
                self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))

    def test_planted_pairs_span_the_thresholds(self):
        rng = __import__("random").Random(3)
        docs, planted = gen.gen_docs(rng, 200, (0, 2, 12), 6)
        exp = gen.dedup_expectations(docs, planted)
        self.assertTrue(any(p["identical"] for p in exp))
        self.assertTrue(any(p["j20"] >= gen.D20_TAU for p in exp))
        self.assertTrue(any(p["j20"] < gen.D20_TAU for p in exp))

    def test_small_batches_record_their_outcome(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.generate("etl_small", 1, d, 2)["batches"]
        for m in meta:
            valid = [e for e in m["rows"] if e["valid"]]
            zero = sum(1 for e in valid if e["cents"] == 0)
            # the gate passes on score > 0.8, the share of non-zero rows
            self.assertEqual(m["expect"] == "SUCCEEDED", 1 - zero / len(valid) > 0.8)


class Checker(unittest.TestCase):
    def test_d22_transform_matches_the_program(self):
        long_text = " ".join(["w"] * gen.D22_MIN_TOKS)
        self.assertTrue(gen.d22_text(1, long_text).endswith(gen.D22_BOILERPLATE))
        self.assertEqual(gen.d22_text(10, long_text), long_text)
        self.assertEqual(gen.d22_text(1, "a b c"), "a b c")

    def test_sql_answers(self):
        rows = [{"event_type": "view", "cents": 150, "user_id": 4, "hour": 3},
                {"event_type": "click", "cents": 5000, "user_id": 4, "hour": 30}]
        a = check.sql_answers(rows)
        self.assertEqual(a["type_totals"], [["click", 1, 5000], ["view", 1, 150]])
        self.assertEqual(a["point_hour"], [["view", 1]])
        self.assertEqual(a["value_bands"], [[0, 1], [1, 1]])
        self.assertEqual(a["first_day_users"], [[1]])


if __name__ == "__main__":
    unittest.main()
