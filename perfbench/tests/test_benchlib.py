"""Tests of the benchmark's own pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import os
import sys
import tempfile
import unittest

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from benchlib import gen, oracle, report, rowhash, stats  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 20))            # p50 rank 10, 9 beyond
        self.assertIsNone(stats.percentile(xs, 50))
        xs = list(range(1, 21))            # p50 rank 10, 10 beyond
        self.assertEqual(stats.percentile(xs, 50), 10)
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class SpanTest(unittest.TestCase):

    def test_self_time_subtracts_union_of_children(self):
        spans = [{"id": 1, "parent": None, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 40},
                 {"id": 3, "parent": 1, "start": 30, "end": 60},   # overlaps 2
                 {"id": 4, "parent": 2, "start": 15, "end": 20},
                 {"id": 5, "parent": 1, "start": 90, "end": 130}]  # clipped at 100
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_rollup_by_name(self):
        spans = [{"id": 1, "parent": None, "name": "op", "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "name": "exec", "start": 2, "end": 6},
                 {"id": 3, "parent": None, "name": "op", "start": 20, "end": 25}]
        r = stats.rollup(spans)
        self.assertEqual(r["op"], {"self": 11, "count": 2})
        self.assertEqual(r["exec"], {"self": 4, "count": 1})

    def test_union_of_intervals(self):
        ivs = [(30, 60), (10, 40), (60, 70), (80, 80), (90, 95)]
        self.assertEqual(stats.merge(ivs), [[10, 70], [90, 95]])
        self.assertEqual(stats.union_length(ivs), 65)
        self.assertEqual(stats.union_length([]), 0)

    def test_largest_gap(self):
        parent = {"start": 0, "end": 100}
        kids = [{"start": 5, "end": 50}, {"start": 52, "end": 97}]
        self.assertEqual(stats.largest_gap(parent, kids), 5)
        self.assertEqual(stats.largest_gap(parent, []), 100)

    def test_listener_spans_attach_to_innermost_client_span(self):
        spans = [{"id": 1, "parent": None, "name": "op.point", "start": 0, "end": 100,
                  "op": 3, "probe": False},
                 {"id": 2, "parent": 1, "name": "exec", "start": 50, "end": 100,
                  "op": 3, "probe": False},
                 {"id": 3, "parent": None, "name": "exec.job", "start": 60, "end": 101,
                  "op": -1, "probe": False}]
        report.attach(spans)
        self.assertEqual((spans[2]["parent"], spans[2]["op"], spans[2]["end"]), (2, 3, 100))


class EndToEndTest(unittest.TestCase):

    def _summary(self, setup_steal, loop_steal):
        return {"setup_s": 10.0, "loop_s": 20.0, "heap_live_mb": 50.0,
                "setup_steal": setup_steal, "loop_steal": loop_steal}

    def test_times_scale_to_a_quiet_host(self):
        results = [{"pass": "untraced", "kind": "point", "ms": 100.0 + i} for i in range(20)]
        results += [{"pass": "untraced", "kind": "full", "ms": 1000.0}]
        quiet = report.end_to_end("serve", self._summary(0.0, 0.0), results)
        self.assertEqual(quiet["op_ms_p50"][0], 109.0)
        self.assertEqual(quiet["heavy_s"][0], 1.0)
        self.assertEqual(quiet["ops_per_s"][0], 21 / 20.0)
        self.assertEqual(quiet["setup_s"][0], 10.0)
        f = report.steal_factor(0.1)
        self.assertAlmostEqual(f, 1 - report.STEAL_GAIN * 0.1)
        busy = report.end_to_end("serve", self._summary(0.0, 0.1), results)
        self.assertAlmostEqual(busy["op_ms_p50"][0], 109.0 * f)
        self.assertAlmostEqual(busy["heavy_s"][0], 1.0 * f)
        self.assertAlmostEqual(busy["ops_per_s"][0], 21 / 20.0 / f)
        self.assertEqual(busy["setup_s"][0], 10.0)      # set-up had no steal
        self.assertEqual(busy["heap_live_mb"][0], 50.0)

    def test_no_steal_reading_means_no_scaling(self):
        self.assertEqual(report.steal_factor(None), 1.0)


class RowHashTest(unittest.TestCase):

    def test_order_insensitive_and_column_order_insensitive(self):
        a = pa.table({"k": [1, 2, 3], "v": ["x", "y", None]})
        b = pa.table({"v": [None, "x", "y"], "k": [3, 1, 2]})
        self.assertEqual(rowhash.table_hash(a), rowhash.table_hash(b))

    def test_multiset_not_set(self):
        a = pa.table({"k": [1, 1, 2]})
        b = pa.table({"k": [1, 2, 2]})
        self.assertNotEqual(rowhash.table_hash(a), rowhash.table_hash(b))
        self.assertTrue(rowhash.table_hash(a).startswith("3:"))

    def test_canonical_values(self):
        self.assertEqual(rowhash.canon_double(-0.0), rowhash.canon_double(0.0))
        self.assertEqual(rowhash.canon_double(1.0), "d3ff0000000000000")
        self.assertEqual(rowhash.canon_decimal(decimal.Decimal("1.500")), "m1.5")
        self.assertEqual(rowhash.canon_decimal(decimal.Decimal("100")), "m100")
        self.assertEqual(rowhash.canon_decimal(decimal.Decimal("0.00")), "m0")
        ts = pa.table({"t": pa.array([1_000_001], pa.timestamp("us"))})
        tz = pa.table({"t": pa.array([1_000_001], pa.timestamp("us", "UTC"))})
        ns = pa.table({"t": pa.array([1_000_001_000], pa.timestamp("ns"))})
        self.assertEqual(rowhash.table_hash(ts), rowhash.table_hash(tz))
        self.assertEqual(rowhash.table_hash(ts), rowhash.table_hash(ns))

    def test_empty(self):
        self.assertEqual(rowhash.table_hash(pa.table({"k": pa.array([], pa.int64())})),
                         "0:0000000000000000")


class DeterminismTest(unittest.TestCase):

    def _logs(self, seed):
        ev = gen.events_table(seed, 2000)
        warm, ops = gen.ingest_plan(seed, ev)
        li = gen.tpch_tables(seed, 3000)["lineitem"]
        build, reads = gen.serve_plan(seed, li)
        out = []
        with tempfile.TemporaryDirectory() as d:
            for name, log in (("w", warm), ("o", ops), ("b", build), ("r", reads)):
                p = os.path.join(d, name)
                gen.write_plan(log, p)
                with open(p, "rb") as f:
                    out.append(f.read())
        return out, ev, li

    def test_same_seed_same_bytes(self):
        a, ev_a, li_a = self._logs(5)
        b, ev_b, li_b = self._logs(5)
        self.assertEqual(a, b)
        self.assertTrue(ev_a.equals(ev_b))
        self.assertTrue(li_a.equals(li_b))

    def test_other_seed_other_keys_same_mix(self):
        a, _, _ = self._logs(5)
        c, _, _ = self._logs(6)
        self.assertNotEqual(a, c)
        kinds = lambda blob: sorted(l.split(b'"op":"')[1].split(b'"')[0]
                                    for l in blob.splitlines())
        for x, y in zip(a, c):
            self.assertEqual(kinds(x), kinds(y))


class CheckTest(unittest.TestCase):
    """A wrong expectation must surface as a failed op."""

    def test_serve_check_counts_a_wrong_expectation(self):
        li = gen.tpch_tables(2, 3000)["lineitem"]
        build, reads = gen.serve_plan(2, li)
        want = oracle.serve_expected(li, build, reads)
        results = [{"id": i, "kind": r["op"], "hash": h} for i, (r, h) in enumerate(zip(reads, want))]
        inp = {"lineitem": li, "build": build, "reads": reads}
        self.assertTrue(all(run.check_serve(inp, results)))
        # the expectation for one point lookup is now computed for another key
        i = next(i for i, r in enumerate(reads) if r["op"] == "point")
        wrong = [dict(r) for r in reads]
        wrong[i]["key"] = -1
        ok = run.check_serve({"lineitem": li, "build": build, "reads": wrong}, results)
        self.assertEqual(sum(1 for x in ok if not x), 1)

    def test_ingest_replay_sees_every_op(self):
        ev = gen.events_table(3, 2000)
        _, ops = gen.ingest_plan(3, ev)
        full = oracle.ingest_replay(ev, ops)
        no_rowlevel = [o for o in ops if o["op"] == "append"]
        self.assertNotEqual(full, oracle.ingest_replay(ev, no_rowlevel))


if __name__ == "__main__":
    unittest.main()
