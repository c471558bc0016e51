"""Tests of the benchmark's own logic: python3 -m unittest discover -s perfbench
(the fingerprint's row-order test is Scala: cd perfbench && sbt test)."""
import os
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct = M.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_smallest_sample(self):
        value, pct = M.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100 * 1 / 11)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            M.tail(list(range(10)))

    def test_order_free(self):
        self.assertEqual(M.tail([5, 3, 9, 1, 7, 2, 8, 6, 4, 0, 10, 11])[0], 1)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_not_subtracted_twice(self):
        spans = [("op", 0, 100, -1, "a"),
                 ("exec", 10, 60, 0, "a"),
                 ("exec", 40, 80, 0, "a"),  # overlaps the first child by 20
                 ("task", 45, 50, 1, "a")]
        s = M.self_times(spans)
        self.assertEqual(s["op"], 100 - 70)  # union of children is [10, 80]
        self.assertEqual(s["exec"], (50 - 5) + 40)
        self.assertEqual(s["task"], 5)

    def test_children_clipped_to_parent(self):
        s = M.self_times([("p", 10, 20, -1, ""), ("c", 5, 15, 0, "")])
        self.assertEqual(s["p"], 5)

    def test_filter_keeps_parent_links(self):
        spans = [("setup", 0, 10, -1, "s"), ("op", 20, 40, -1, "a"), ("exec", 25, 35, 1, "a")]
        self.assertEqual(M.self_times(spans, lambda s: s[4] == "a"), {"op": 10, "exec": 10})


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_not_send(self):
        # the generator ran 300 ms late on the second arrival; its latency
        # still starts at the due time
        arrivals = [{"door": "d", "batch": 0, "due_ms": 1000, "sent_ms": 1000},
                    {"door": "d", "batch": 1, "due_ms": 2000, "sent_ms": 2300}]
        commits = {("d", 0): 1500, ("d", 1): 2600}
        self.assertEqual(M.open_loop_latencies(arrivals, commits), [0.5, 0.6])

    def test_uncommitted_arrival(self):
        self.assertEqual(M.open_loop_latencies(
            [{"door": "d", "batch": None, "due_ms": 0, "sent_ms": 0}], {}), [None])

    def test_backlog(self):
        arrivals = [{"sent_ms": 0, "c": 250}, {"sent_ms": 100, "c": 300},
                    {"sent_ms": 200, "c": 400}, {"sent_ms": 350, "c": 400}]
        self.assertEqual(M.backlog_max(arrivals, lambda a: a["c"]), 3)


class Generator(unittest.TestCase):
    def _write(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(d, seed)
            return {n: pq.read_table(os.path.join(d, f"{n}.parquet")) for n in
                    ("lineitem", "events", "documents", "embeddings")}

    def test_same_seed_same_files(self):
        a, b = self._write(7), self._write(7)
        for n in a:
            self.assertTrue(a[n].equals(b[n]), n)

    def test_seed_changes_order_not_content(self):
        a, b = self._write(7), self._write(8)
        for n, key in (("lineitem", None), ("events", "event_id"),
                       ("documents", "doc_id"), ("embeddings", "vec_id")):
            self.assertFalse(a[n].equals(b[n]), f"{n}: seed must permute rows")
            if key is None:
                cols = a[n].column_names
                sa = a[n].sort_by([(c, "ascending") for c in cols])
                sb = b[n].sort_by([(c, "ascending") for c in cols])
            else:
                sa, sb = a[n].sort_by(key), b[n].sort_by(key)
            self.assertTrue(sa.equals(sb), f"{n}: content must not depend on the seed")


class ClasspathCache(unittest.TestCase):
    """Every build writes to the same output directory, so a cached
    classpath is reused only for the digest that last built it."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.classes = os.path.join(self.tmp.name, "perfbench", "classes")
        os.makedirs(self.classes)
        self.builds = []
        patches = [mock.patch.object(run, "HERE", self.tmp.name),
                   mock.patch.object(run.subprocess, "run", self._build)]
        for p in patches:
            p.start()
            self.addCleanup(p.stop)
        self.addCleanup(self.tmp.cleanup)

    def _build(self, cmd, **kw):
        """stands in for sbt: writes the outputs of the current sources"""
        self.builds.append(self.sources)
        with open(os.path.join(self.classes, "A.class"), "w") as f:
            f.write(self.sources)
        return subprocess.CompletedProcess(cmd, 0, stdout=self.classes + "\n", stderr="")

    def cp(self, sources):
        self.sources = sources
        return run.classpath(self.tmp.name, sources)

    def test_same_digest_reuses_the_build(self):
        self.cp("P")
        self.cp("P")
        self.assertEqual(self.builds, ["P"])

    def test_returning_to_a_digest_rebuilds(self):
        self.cp("P")
        self.cp("C")
        self.cp("P")
        self.assertEqual(self.builds, ["P", "C", "P"])
        with open(os.path.join(self.classes, "A.class")) as f:
            self.assertEqual(f.read(), "P")

    def test_changed_outputs_rebuild(self):
        self.cp("P")
        with open(os.path.join(self.classes, "A.class"), "a") as f:
            f.write("built elsewhere")
        self.cp("P")
        self.assertEqual(self.builds, ["P", "P"])


if __name__ == "__main__":
    unittest.main()
