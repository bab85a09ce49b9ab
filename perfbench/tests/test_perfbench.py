"""Unit tests of the benchmark's generators, statistics and compare tool.

    python3 -m unittest discover -s perfbench/tests
"""
import collections
import datetime as dt
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

POOL = {"qa1": "A", "qa2": "A", "qb1": "B", "qc1": "C"}


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.tpch = os.path.join(cls.tmp.name, "tpch")
        gen.write_tpch(cls.tpch, seed=11, sf=0.001)
        cls.li = gen.lineitem_arrays(cls.tpch)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_tpch_same_seed_same_bytes(self):
        again = os.path.join(self.tmp.name, "again")
        other = os.path.join(self.tmp.name, "other")
        gen.write_tpch(again, seed=11, sf=0.001)
        gen.write_tpch(other, seed=12, sf=0.001)
        self.assertEqual(tree_digest(self.tpch), tree_digest(again))
        self.assertNotEqual(tree_digest(self.tpch), tree_digest(other))

    def test_lineitem_keys_are_unique(self):
        keys = set(zip(self.li["l_orderkey"].tolist(), self.li["l_linenumber"].tolist()))
        self.assertEqual(len(keys), len(self.li["l_orderkey"]))

    def test_epg_day_same_seed_same_bytes(self):
        self.assertEqual(gen.epg_day(7, 3), gen.epg_day(7, 3))
        self.assertNotEqual(gen.epg_day(7, 3), gen.epg_day(8, 3))
        self.assertNotEqual(gen.epg_day(7, 3), gen.epg_day(7, 4))

    def test_epg_rows_begin_inside_their_day(self):
        key = gen.epg_day_key(5)
        text = gen.epg_day(1, 5)
        rows = text.splitlines()[1:]
        self.assertEqual(len(rows), gen.EPG_ROWS_PER_DAY)
        german = gen.epg_german_keys(text)
        self.assertTrue(german)
        self.assertEqual({pk for pk, _, _ in german}, {key})
        self.assertEqual(len({rk for _, rk, _ in german}), len(german))

    def test_epg_channels_tile_the_day(self):
        day = dt.datetime.strptime(gen.epg_day_key(2), "%Y_%m_%d")
        by_sender = collections.defaultdict(list)
        for line in gen.epg_day(4, 2).splitlines()[1:]:
            f = line.split(";")
            b, e = (dt.datetime.strptime(x, "%d.%m.%Y %H:%M:%S") for x in f[1:3])
            self.assertEqual((e - b).total_seconds(), int(f[3]) * 60)
            by_sender[f[4]].append((b, e))
        self.assertEqual(set(by_sender), set(gen.SENDERS))
        for slots in by_sender.values():
            slots.sort()
            self.assertEqual(len(slots), gen.EPG_LISTINGS_PER_SENDER)
            self.assertEqual(slots[0][0], day)
            self.assertEqual(slots[-1][1], day + dt.timedelta(days=1))
            for (_, e), (b, _) in zip(slots, slots[1:]):
                self.assertEqual(e, b)

    def test_oplog_same_seed_same_bytes(self):
        a = gen.dml_oplog_text(3, 2, self.li, POOL)
        self.assertEqual(a, gen.dml_oplog_text(3, 2, self.li, POOL))
        self.assertNotEqual(a, gen.dml_oplog_text(4, 2, self.li, POOL))

    def test_oplog_blocks_hold_fixed_shares(self):
        ops = gen.dml_oplog(5, 3, self.li, POOL)
        for b in range(3):
            kinds = collections.Counter(op["kind"] for op in ops if op["block"] == b)
            want = {k: 1 for k in gen.DML_WRITES + gen.DML_READS + gen.DML_MAINTENANCE}
            want["analytics"] = 3
            self.assertEqual(dict(kinds), want)
            regs = sorted(op["registry"] for op in ops
                          if op["block"] == b and op["kind"] == "analytics")
            self.assertEqual(regs, ["A", "B", "C"])

    def test_oplog_block_order(self):
        ops = gen.dml_oplog(6, 2, self.li, POOL)
        for b in range(2):
            kinds = [op["kind"] for op in ops if op["block"] == b and op["kind"] != "analytics"]
            self.assertEqual(kinds[:4], list(gen.DML_WRITES))
            self.assertEqual(set(kinds[4:8]), set(gen.DML_READS))
            self.assertEqual(kinds[8:], list(gen.DML_MAINTENANCE))


class StatsTest(unittest.TestCase):

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)

    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, beyond = stats.tail(list(range(1, 41)))
        self.assertEqual((value, pct, beyond), (30, 75.0, 10))
        value, pct, beyond = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(stats.tail(list(range(39))), (38, 100.0, 0))

    def test_fail_frac_counts_failed_and_wrong_once(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        self.assertEqual(stats.fail_frac(ops, set()), 0.25)
        self.assertEqual(stats.fail_frac(ops, {1, 3}), 0.5)
        self.assertEqual(stats.fail_frac(ops[:1], set()), 0.0)
        with self.assertRaises(ValueError):
            stats.fail_frac([], set())

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 4), 0.0)
        self.assertGreater(stats.spread([1.0, 2.0, 3.0, 4.0]), 0.5)


class EndToEndTest(unittest.TestCase):

    def test_etl_op_metrics_cover_ticks_and_reads_apart(self):
        ops = [{"kind": "tick", "s": s} for s in (5.0, 7.0, 6.0)]
        ops += [{"kind": "read", "s": s} for s in (0.1, 0.3, 0.2, 0.2)]
        res = {"ops": ops, "setup_s": [20.0], "rss_peak_mb": 900.0}
        m = run.end_to_end(res, "etl_daily", 0.0, {})
        self.assertEqual(m["op_p50_s"][0], 6.0)
        self.assertEqual(m["op_tail_s"][0], 7.0)
        self.assertEqual(m["write_p50_s"][0], 6.0)
        self.assertEqual(m["read_p50_s"][0], 0.2)
        self.assertAlmostEqual(m["ops_per_s"][0], 3 / 18.0)

    def test_dml_op_metrics_cover_every_operation(self):
        kinds = ["merge", "update", "point", "range", "analytics", "refresh"]
        ops = [{"kind": k, "s": float(i + 1)} for i, k in enumerate(kinds)]
        res = {"ops": ops, "setup_s": [10.0], "rss_peak_mb": 900.0}
        m = run.end_to_end(res, "table_dml", 0.0, {})
        self.assertEqual(m["op_p50_s"][0], 3.5)
        self.assertEqual(m["write_p50_s"][0], 1.5)
        self.assertEqual(m["read_p50_s"][0], 3.5)
        self.assertEqual(m["refresh_p50_s"][0], 6.0)

    def test_amplification(self):
        fs = {"bytes_written": 3000.0, "bytes_live": 1000.0, "bytes_on_disk": 2500.0}
        amp = run.amplification(fs, changed_rows=10, live_rows=100)
        self.assertAlmostEqual(amp["write_amp"][0], 30.0)
        self.assertAlmostEqual(amp["space_amp"][0], 2.5)


class CompareTest(unittest.TestCase):

    def test_verdicts(self):
        base = [1.00, 1.01, 0.99, 1.00, 1.02]
        self.assertEqual(compare.verdict(base, [1.01, 1.00, 0.98, 1.02, 1.00], 0.1, "lower")[0],
                         "unchanged")
        self.assertEqual(compare.verdict(base, [1.3, 1.31, 1.29, 1.3, 1.32], 0.1, "lower")[0],
                         "worse")
        self.assertEqual(compare.verdict(base, [0.7, 0.71, 0.69, 0.7, 0.72], 0.1, "lower")[0],
                         "better")
        self.assertEqual(compare.verdict(base, [0.7, 0.71, 0.69, 0.7, 0.72], 0.1, "higher")[0],
                         "worse")

    def test_wide_spread_is_unresolved_unless_separated(self):
        base = [1.0, 1.5, 0.6, 1.2, 0.8]
        self.assertEqual(compare.verdict(base, [1.1, 1.6, 0.7, 1.3, 0.9], 0.1, "lower")[0],
                         "unresolved")
        self.assertEqual(compare.verdict(base, [2.0, 2.5, 1.9, 2.2, 2.1], 0.1, "lower")[0],
                         "worse")


if __name__ == "__main__":
    unittest.main()
