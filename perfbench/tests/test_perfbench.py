"""Tests of the benchmark's own machinery.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in run.WORKLOADS:
                a, b, c = (os.path.join(tmp, w, x) for x in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                files = _tree(a)
                self.assertTrue(files)
                self.assertEqual(files, _tree(b))
                for f in files:
                    self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                                os.path.join(b, f),
                                                shallow=False), f"{w}/{f}")
                differ = [f for f in files if f.endswith(".parquet") and
                          not filecmp.cmp(os.path.join(a, f),
                                          os.path.join(c, f), shallow=False)]
                self.assertTrue(differ, w)

    def test_backlog_arrival_order_is_pinned_by_mtime(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.generate("stream_dedup", 3, tmp)
            names = sorted(os.listdir(os.path.join(tmp, "backlog")))
            mtimes = [os.path.getmtime(os.path.join(tmp, "backlog", n))
                      for n in names]
            self.assertEqual(mtimes, sorted(set(mtimes)))


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual((value, pct, beyond, n), (30, 75.0, 10, 40))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_large_sample_reaches_p99(self):
        value, pct, beyond, _ = stats.tail(list(range(1000)))
        self.assertEqual((value, pct, beyond), (989, 99.0, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_twenty_samples_is_the_median_boundary(self):
        value, pct, beyond, _ = stats.tail(list(range(20)))
        self.assertEqual((value, pct, beyond), (9, 50.0, 10))

    def test_small_samples_report_the_maximum(self):
        for n in (1, 10, 11, 19):
            xs = [float(i) for i in range(n)]
            self.assertEqual(stats.tail(xs), (n - 1.0, 100.0, 0, n))


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": int(start * 1e9),
            "end_ns": int(end * 1e9)}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [_span(0, -1, 0, 10), _span(1, 0, 1, 4), _span(2, 0, 5, 7),
                 _span(3, 1, 2, 3)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[0], 5.0)
        self.assertAlmostEqual(t[1], 2.0)
        self.assertAlmostEqual(t[2], 2.0)
        self.assertAlmostEqual(t[3], 1.0)
        # self times partition the root's interval
        self.assertAlmostEqual(sum(t.values()), 10.0)

    def test_overlapping_children_count_once(self):
        spans = [_span(0, -1, 0, 10), _span(1, 0, 2, 6), _span(2, 0, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 4.0)

    def test_children_clipped_to_parent(self):
        spans = [_span(0, -1, 0, 4), _span(1, 0, 3, 6)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 3.0)


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_workloads_and_metric_names_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.b["workloads"]],
                         [w for w in run.WORKLOADS if w not in run.HELD_OUT])
        self.assertEqual([m["name"] for m in self.b["per_layer"]],
                         run.per_layer_names())
        self.assertEqual([m["unit"] for m in self.b["per_layer"]],
                         [run.unit_of(n) for n in run.per_layer_names()])

    def test_end_to_end_names_and_units(self):
        result = {"ops": [{"kind": "curate", "s": 2.0, "docs": 10}],
                  "reads": [{"s": 0.5, "refresh": 1}],
                  "peak_rss_mb": 100.0}
        info = {"stored_bytes": 50, "stored_rows": 5}
        got, _ = run.end_to_end("corpus_curate", result, info, 3.0)
        self.assertEqual(
            {k: u for k, (_, u) in got.items()},
            {m["name"]: m["unit"] for m in self.b["end_to_end"]})


class Digest(unittest.TestCase):
    def test_canonical_text(self):
        # the formatting perfbench.Common.canon applies on the JVM side
        self.assertEqual(check.canon(None), "N")
        self.assertEqual(check.canon(12.3456), "12345600")
        self.assertEqual(check.canon(True), "true")
        self.assertEqual(check.canon(7), "7")

    def test_order_independent(self):
        rows = [("a", 1.5), ("b", None), ("c", 3)]
        self.assertEqual(check.digest(rows), check.digest(rows[::-1]))
        self.assertNotEqual(check.digest(rows), check.digest(rows[:2]))


class StreamGate(unittest.TestCase):
    """check_stream against a hand-made committed state: two one-file
    batches of five documents; doc 6 is a planted copy of doc 1, doc 8 of
    doc 3, and docs 3 and 8 fail the quality gate."""

    PER_FILE = 5
    TRUTH = {"planted_dups": [(1, 6), (3, 8)]}
    GOOD = [d for d in range(10) if d not in (3, 6, 8)]

    def _check(self, accepted):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            state = os.path.join(tmp, "state")
            rows = [(d, f"t{d}", d // self.PER_FILE + 1) for d in accepted]
            for b in (1, 2):
                for part, table in (
                        ("accepted", pa.table({
                            "doc_id": pa.array([r[0] for r in rows
                                                if r[2] == b], pa.int64()),
                            "text": [r[1] for r in rows if r[2] == b],
                            "batch": pa.array([b] * sum(r[2] == b
                                                        for r in rows),
                                              pa.int64())})),
                        ("keys", pa.table({
                            "doc_id": pa.array([], pa.int64()),
                            "band": pa.array([], pa.int32()),
                            "key": pa.array([], pa.string())}))):
                    d = os.path.join(state, "delta", f"d{b}", part)
                    os.makedirs(d)
                    pq.write_table(table, os.path.join(d, "p.parquet"))
            with open(os.path.join(state, "_current"), "w") as f:
                f.write("2")
            os.makedirs(os.path.join(tmp, "verdicts"))
            pq.write_table(pa.table({
                "doc_id": pa.array(range(10), pa.int64()),
                "quality_pred": [d not in (3, 8) for d in range(10)]}),
                os.path.join(tmp, "verdicts", "p.parquet"))
            warm = [check.digest([r for r in rows if r[2] <= k])
                    for k in (1, 2)]
            result = {"ops": [{}], "reads": [], "facts": {
                "state_root": state, "verdicts": os.path.join(tmp, "verdicts"),
                "files_arrived": 2, "warm_output": {"prefixes": warm}}}
            fails, _ = check.check_stream(self.TRUTH, result, self.PER_FILE)
            return fails

    def test_first_gated_arrivals_accepted_passes(self):
        self.assertEqual(self._check(self.GOOD), [])

    def test_rejecting_everything_fails(self):
        self.assertTrue(self._check([]))

    def test_accepting_a_later_copy_fails(self):
        self.assertTrue(self._check(self.GOOD + [6]))

    def test_accepting_a_gated_out_document_fails(self):
        self.assertTrue(self._check(self.GOOD + [3]))


if __name__ == "__main__":
    unittest.main()
