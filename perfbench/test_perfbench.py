"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import tempfile
import unittest

import gen
import metrics
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for workload in ("graph-analytics", "index-churn", "stream-ingest"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.write_inputs(workload, 7, a)
                gen.write_inputs(workload, 7, b)
                gen.write_inputs(workload, 8, c)
                self.assertEqual(tree_digest(a), tree_digest(b), workload)
                self.assertNotEqual(tree_digest(a), tree_digest(c), workload)

    def test_shapes_do_not_depend_on_seed(self):
        e1, _ = gen.round_graph(1)
        e2, _ = gen.round_graph(2)
        self.assertEqual(len(e1), len(e2))
        self.assertEqual(len(gen.power_graph(1)[0]), gen.POWER_EDGES)
        ops1, ops2 = gen.index_inputs(1)[3], gen.index_inputs(2)[3]
        self.assertEqual([o.split()[0] for o in ops1], [o.split()[0] for o in ops2])

    def test_round_graph_priority_rises_along_every_edge(self):
        edges, start = gen.round_graph(3)
        self.assertTrue(all(
            (gen.coloring_priority(s), s) < (gen.coloring_priority(d), d) for s, d, _ in edges))
        self.assertIn(start, {s for s, _, _ in edges})

    def test_deletes_name_live_ids(self):
        base, _, appends, ops = gen.index_inputs(5)
        live = {i for i, _ in base}
        app = iter(appends)
        for op in ops:
            kind, _, arg = op.partition(" ")
            if kind == "append":
                live |= {i for i, _ in next(app)}
            elif kind == "delete":
                ids = {int(x) for x in arg.split(",")}
                self.assertTrue(ids <= live)
                live -= ids

    def test_event_disorder_stays_inside_the_watermark(self):
        for f, rows in enumerate(gen.stream_files(4)[:20]):
            lo = gen.EVENT_T0_US + f * gen.FILE_SPAN_US - gen.MAX_DISORDER_US
            hi = gen.EVENT_T0_US + (f + 1) * gen.FILE_SPAN_US
            self.assertTrue(all(lo <= ts < hi for _, ts, _ in rows))
        self.assertLess(gen.MAX_DISORDER_US + gen.FILE_SPAN_US, 2 * 3600 * 1_000_000)


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))
        pct, value = stats.tail(xs[::-1])
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_small_sample(self):
        pct, value = stats.tail([5.0] * 3 + list(range(11)))
        self.assertAlmostEqual(pct, 100.0 * 4 / 14)
        self.assertEqual(value, 3)


class CoverageTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)

    def test_clipped_to_window(self):
        self.assertEqual(stats.covered([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(stats.covered([(11, 12)], 0, 10), 0)

    def test_self_time_subtracts_child_coverage_once(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 9.0, "end": 12.0}]
        self.assertEqual(stats.self_time(span, kids), 10 - 4 - 1)
        self.assertEqual(stats.self_time(span, []), 10)


def _record(ops, **values):
    base = {"session_s": 1.0, "setup_in_jvm_s": 2.0, "driver_live_heap_mb": 100.0, "cores": 4,
            "gc_ms_per_s": 1.0}
    base.update(values)
    return {"values": base, "ops": ops, "spans": [], "jobs": [], "op_stats": {}}


def _op(i, kind, ms, ok=True, **extra):
    return dict({"id": i, "kind": kind, "traced": False, "start": 0.0, "end": ms, "ok": ok, "note": ""},
                **extra)


class FailureAccountingTest(unittest.TestCase):
    def test_wrong_answer_counts_as_failed(self):
        ops = [_op(i + 1, c, 100.0, ok=(c != "louvain")) for i, c in enumerate(metrics.GRAPH_CALLS)]
        out = metrics.summarize("graph-analytics", _record(ops), 0.5, traced=False)
        self.assertEqual((out["attempted"], out["failed"], out["correct"]), (7, 1, False))
        self.assertAlmostEqual(out["metrics"]["op_ok_ratio"]["value"], 6 / 7)
        self.assertAlmostEqual(out["metrics"]["op_p50_ms"]["value"], 700.0)
        self.assertAlmostEqual(out["metrics"]["setup_s"]["value"], 3.5)

    def test_all_correct(self):
        ops = [_op(i + 1, c, 100.0) for i, c in enumerate(metrics.GRAPH_CALLS)]
        out = metrics.summarize("graph-analytics", _record(ops), 0.5, traced=False)
        self.assertEqual((out["failed"], out["correct"]), (0, True))
        self.assertEqual(out["metrics"]["op_ok_ratio"]["value"], 1.0)

    def test_stream_file_fails_when_uncommitted_or_wrong(self):
        files = [
            {"file": "a", "due": 0.0, "landed": 1.0, "batch": 1, "events": 10, "wrong_users": 0},
            {"file": "b", "due": 500.0, "landed": 501.0, "batch": -1, "events": 10, "wrong_users": 0},
            {"file": "c", "due": 1000.0, "landed": 1001.0, "batch": 2, "events": 10, "wrong_users": 3},
        ]
        ops = [_op(1, "batch", 10.0, batch_id=1), _op(2, "batch", 10.0, batch_id=2)]
        rec = _record(ops, files=files, batch_end={"1": 800.0, "2": 1600.0}, window_end=2000.0,
                      progress=[])
        out = metrics.summarize("stream-ingest", rec, 0.5, traced=False)
        self.assertEqual((out["attempted"], out["failed"]), (3, 2))
        self.assertAlmostEqual(out["metrics"]["op_p50_ms"]["value"], 700.0)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_printed(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["graph-analytics", "index-churn", "stream-ingest"])


if __name__ == "__main__":
    unittest.main()
