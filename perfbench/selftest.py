#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic and generator.

    python3 perfbench/selftest.py

No Spark and no build needed.
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


def op(ms, ok=True, op_name="request", kind="range_1h", seq=0):
    return {"phase": "timed", "op": op_name, "kind": kind, "ok": ok,
            "start_ns": 0, "end_ns": int(ms * 1e6), "rows": 1 if ok else 0,
            "error": None if ok else "AssertionError: wrong answer",
            "seq": seq}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 0.90)
        self.assertEqual(stats.tail_percentile(99), 0.75)
        self.assertEqual(stats.tail_percentile(1000), 0.99)
        self.assertEqual(stats.tail_percentile(10000), 0.999)
        self.assertEqual(stats.tail_percentile(40), 0.75)
        self.assertEqual(stats.tail_percentile(20), 0.50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([7], 0.99), 7)


class FailureAccounting(unittest.TestCase):
    def test_failed_op_counted_and_never_timed(self):
        ops = [op(10), op(5000, ok=False), op(20)]
        attempted, failed, lat, failures = stats.account(ops)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(sorted(lat), [10.0, 20.0])
        self.assertEqual(list(failures), ["request/range_1h"])

    def test_end_to_end_ignores_failed_latency(self):
        raw = {"ops": [op(10, seq=0), op(30, seq=1),
                       op(2000, ok=False, seq=2)],
               "values": {"timed.start_ns": 0, "timed.end_ns": int(2e9),
                          "timed.start_cpu_ns": 0,
                          "timed.end_cpu_ns": int(3e9)},
               "setup": {"session_s": [1.0], "generate_s": [0.5],
                         "store_build_s": [2.0], "warm_s": [4.0]}}
        m = layers.end_to_end("serve_mixed", raw)
        # the failed 2000 ms op is not timed: nearest-rank p50 of 10 and 30
        self.assertAlmostEqual(m["kind_p50_ms"][0], 10.0)
        self.assertEqual(m["ops_per_s"][0], 1.0)
        self.assertEqual(m["cpu_ms_per_op"][0], 1500.0)
        # every part counts; the rollup build it lacks reads 0
        self.assertEqual(m["setup_s"][0], 1.0 + 0.5 + 2.0 + 4.0)

    def test_every_kind_weighs_the_same(self):
        # kind a: 9 ops at 10 ms, kind b: 1 op at 1000 ms, one failed b
        ops = [op(10, kind="a") for _ in range(9)] + [
            op(1000, kind="b"), op(1, ok=False, kind="b")]
        self.assertEqual(stats.kind_p50s(ops), {"a": 10.0, "b": 1000.0})
        self.assertAlmostEqual(
            stats.geomean(list(stats.kind_p50s(ops).values())), 100.0)

    def test_whole_blocks_fix_the_mix(self):
        ops = [op(1, seq=i) for i in (0, 1, 2, 3, 5)]
        self.assertEqual([o["seq"] for o in layers.whole_blocks(ops, 2)],
                         [0, 1, 2, 3])
        self.assertEqual(len(layers.whole_blocks(ops[1:], 2)), 4)


class StorageArithmetic(unittest.TestCase):
    def test_bytes_per_user_byte(self):
        # 100 rows of ts + 3 fields = 100 * 4 * 8 = 3200 raw bytes
        self.assertEqual(stats.bytes_per_user_byte(3200, 100, 3), 1.0)
        self.assertEqual(stats.bytes_per_user_byte(800, 100, 3), 0.25)
        with self.assertRaises(ValueError):
            stats.bytes_per_user_byte(1, 0, 3)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        def span(i, parent, lo, hi):
            return {"id": i, "parent": parent, "start_ns": lo, "end_ns": hi}
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 40), span(3, 1, 30, 60),  # overlap 30..40
                 span(4, 1, 90, 120),  # runs past its parent's end
                 span(5, 2, 15, 25)]   # grandchild: only its parent's
        s = stats.self_times(spans)
        self.assertEqual(s[1], 100 - (50 + 10))
        self.assertEqual(s[2], 30 - 10)
        self.assertEqual(s[3], 30)
        self.assertEqual(s[4], 30)
        self.assertEqual(s[5], 10)


class SeededInputs(unittest.TestCase):
    def same(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        return not mismatch and not errors

    def test_seed_determines_inputs(self):
        for w in ("serve_mixed", "ingest_read"):
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, a, 5, 10)
                gen.generate(w, b, 5, 10)
                gen.generate(w, c, 6, 10)
                self.assertTrue(self.same(a, b), w)
                self.assertFalse(self.same(a, c), w)

    def test_batch_files_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.generate("batch_heavy", a, 5, 10)
            gen.generate("batch_heavy", b, 5, 10)
            self.assertTrue(filecmp.cmp(os.path.join(a, "split.json"),
                                        os.path.join(b, "split.json"),
                                        shallow=False))
            for name in os.listdir(os.path.join(a, "tables")):
                self.assertTrue(self.same(os.path.join(a, "tables", name),
                                          os.path.join(b, "tables", name)))

    def test_batch_tables_follow_the_seed(self):
        import genbatch
        a, sa = genbatch.tables(5)
        b, sb = genbatch.tables(5)
        c, _ = genbatch.tables(6)
        self.assertEqual(sa, sb)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(all(a[t].equals(c[t]) for t in a))

    def test_serve_blocks_hold_the_mix(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("serve_mixed", t, 1, 10)
            import json
            with open(os.path.join(t, "requests.jsonl")) as f:
                kinds = [json.loads(l)["kind"] for l in f]
            block = sum(n for _, n in gen.SERVE_MIX)
            want = sorted(k for k, n in gen.SERVE_MIX for _ in range(n))
            for i in range(0, len(kinds), block):
                self.assertEqual(sorted(kinds[i:i + block]), want)


if __name__ == "__main__":
    unittest.main()
