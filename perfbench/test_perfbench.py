"""Self-tests of the benchmark's pure-Python parts; no Spark needed.

    python3 perfbench/test_perfbench.py
"""

from __future__ import annotations

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

CANNED = os.path.join(HERE, "testdata", "eventlog_canned.jsonl")


class FoldCannedEventLog(unittest.TestCase):
    def setUp(self):
        self.spans = eventlog.fold_file(CANNED)

    def test_groups(self):
        self.assertEqual(set(self.spans), {"s1_extract", "s2_block", eventlog.UNGROUPED})

    def test_jobs_and_tasks(self):
        s1 = self.spans["s1_extract"]
        self.assertEqual((s1["jobs"], s1["tasks"]), (1, 3))
        # stage 1 is listed again by the s2 job, but it ran under s1
        s2 = self.spans["s2_block"]
        self.assertEqual((s2["jobs"], s2["tasks"]), (1, 1))

    def test_task_metrics(self):
        s1 = self.spans["s1_extract"]
        self.assertAlmostEqual(s1["task_run_s"], 2.25)
        self.assertAlmostEqual(s1["task_cpu_s"], 0.55)
        self.assertAlmostEqual(s1["gc_s"], 0.02)
        self.assertEqual(s1["input_bytes"], 1000)
        self.assertEqual(s1["shuffle_write_bytes"], 2048)
        s2 = self.spans["s2_block"]
        self.assertEqual(s2["shuffle_read_bytes"], 2048)
        self.assertEqual(s2["spill_bytes"], 4096)
        self.assertEqual(s2["output_bytes"], 300)

    def test_python_accumulables(self):
        s1 = self.spans["s1_extract"]
        self.assertAlmostEqual(s1["python_run_s"], 1.5)
        self.assertEqual(s1["python_bytes_sent"], 5120)
        self.assertEqual(self.spans["s2_block"]["python_run_s"], 0)

    def test_task_without_metrics(self):
        other = self.spans[eventlog.UNGROUPED]
        self.assertEqual((other["jobs"], other["tasks"], other["task_run_s"]), (1, 1, 0))


class LayerReport(unittest.TestCase):
    def test_every_per_layer_metric_reported(self):
        spans = eventlog.fold_file(CANNED)
        walls = {"s1_extract": 2.0, "s2_block": 1.0}
        out = run.layer_metrics(spans, walls, {"output_bytes": 1}, 4, 3.0, 10)
        self.assertEqual(list(out), [n for n, _u in run.per_layer_names()])
        self.assertAlmostEqual(out["s1_extract.core_util"]["value"], 2.25 / 8)
        self.assertEqual(out["ingest_batch.state_bytes_written"]["value"], 0)

    def test_counts_only_on_spans_that_ran(self):
        facts = {"mentions": 5, "entities": 3, "output_bytes": 7}
        out = run.layer_metrics({}, {"ingest_batch": 1.0}, facts, 4, 1.0, 10)
        self.assertEqual(out["s1_extract.mentions"]["value"], 0)
        self.assertEqual(out["s4_cluster.entities"]["value"], 0)
        self.assertEqual(out["ingest_batch.state_bytes_written"]["value"], 7)


class Scores(unittest.TestCase):
    def test_perfect_and_split(self):
        truth = {"a": "x", "b": "x", "c": "y"}
        self.assertEqual(W.cluster_scores({"a": 1, "b": 1, "c": 2}, truth), (1.0, 1.0))
        f1, b3 = W.cluster_scores({"a": 1, "b": 2, "c": 3}, truth)
        self.assertEqual(f1, 0.0)
        self.assertAlmostEqual(b3, 2 * 1 * (2 / 3) / (1 + 2 / 3))

    def test_blocking_recall(self):
        nodes = {"a": "x", "b": "x", "c": "x", "d": "y"}
        self.assertAlmostEqual(W.blocking_recall([("a", "b"), ("c", "d")], nodes), 1 / 3)


class Generator(unittest.TestCase):
    def test_seeded(self):
        self.assertEqual(W.prose_rows(3, 50), W.prose_rows(3, 50))
        self.assertNotEqual(W.prose_rows(3, 50), W.prose_rows(4, 50))

    def test_distinct_prose_without_digits(self):
        texts = [t for _u, t, _t in W.prose_rows(0, 2000)]
        self.assertEqual(len(set(texts)), len(texts))
        self.assertFalse(any(ch.isdigit() or ch == "-" for t in texts for ch in t))

    def test_landmarks_make_mentions_distinct(self):
        rows = W.address_rows(0, 540, landmarks=True)
        spans = [text.split("address: ")[1].split(". Phone")[0] for _p, _u, text, _l, _t in rows]
        self.assertEqual(len(set(spans)), len(spans))


if __name__ == "__main__":
    unittest.main()
