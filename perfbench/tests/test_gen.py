"""Generator self-tests: determinism, construction shares, expected counts.

    python3 -m unittest discover -s perfbench/tests
"""

import datetime as dt
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

ANCHOR = gen.utc_midnight_us(dt.date(2024, 3, 10))


def build(workload, seed, tmp):
    out = os.path.join(tmp, "%s-%d" % (workload, seed))
    return out, gen.build(workload, seed, out, ANCHOR)


class Determinism(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in sorted(gen.SIZES):
                a, m = build(w, 7, os.path.join(tmp, "a"))
                b, _ = build(w, 7, os.path.join(tmp, "b"))
                c, _ = build(w, 8, os.path.join(tmp, "c"))
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                self.assertFalse(filecmp.cmp(os.path.join(a, m["history"]),
                                             os.path.join(c, m["history"]),
                                             shallow=False), w)


class Construction(unittest.TestCase):

    def setUp(self):
        self.g = gen.Gen(3, 500)
        self.rows = self.g.rows(20_000, ANCHOR - 30 * gen.DAY_US, ANCHOR)

    def test_shares_stay_under_the_gate(self):
        n = len(self.rows)
        null_user = sum(r[2] is None for r in self.rows) / n
        bad_value = sum(r[4] is None or not 0 <= r[4] <= 200 for r in self.rows) / n
        self.assertLess(null_user, 0.10)
        self.assertLess(bad_value, 0.10)
        self.assertGreater(null_user, 0)
        self.assertGreater(bad_value, 0)

    def test_duplicate_keys_and_skew(self):
        keys = [(r[2], r[1]) for r in self.rows if r[2] is not None]
        dup_share = 1 - len(set(keys)) / len(keys)
        self.assertAlmostEqual(dup_share, gen.DUP_SHARE, delta=0.01)
        counts = {}
        for r in self.rows:
            counts[r[2]] = counts.get(r[2], 0) + 1
        top = max(v for k, v in counts.items() if k is not None)
        self.assertGreater(top, 10 * len(self.rows) / 500)  # Zipf head

    def test_timestamps_inside_the_window(self):
        self.assertTrue(all(ANCHOR - 30 * gen.DAY_US <= r[1] < ANCHOR for r in self.rows))


class Expectations(unittest.TestCase):

    def test_silver_rule(self):
        rows = [(0, 10, 1, "view", 5.0, "{}"),     # kept
                (1, 10, 1, "view", 6.0, "{}"),     # same key, later id
                (2, 11, None, "view", 5.0, "{}"),  # null user
                (3, 12, 2, "view", None, "{}"),    # null value
                (4, 13, 2, "view", 200.5, "{}"),   # out of range
                (5, 14, 2, "view", 200.0, "{}")]   # boundary kept
        self.assertEqual(sorted(r[0] for r in gen.silver_rows(rows)), [0, 5])

    def test_cold_run_counts_hold(self):
        with tempfile.TemporaryDirectory() as tmp:
            _, m = build("pipeline_hourly", 1, tmp)
            self.assertEqual(m["cold"]["gold"][0], m["cold"]["silver"])
            self.assertEqual(m["cold"]["bronze"], gen.SIZES["pipeline_hourly"]["events"])
            self.assertEqual(m["warmup_cold"]["bronze"],
                             gen.SIZES["pipeline_hourly"]["warmup_events"])

    def test_hourly_sweeps_history_then_ticks_load_only_new_keys(self):
        with tempfile.TemporaryDirectory() as tmp:
            _, m = build("pipeline_hourly", 1, tmp)
            size = gen.SIZES["pipeline_hourly"]
            self.assertGreater(m["cold"]["deleted"], 0)  # history reaches past 30 days
            self.assertEqual(len(m["ticks"]), size["ticks"])
            for t in m["ticks"]:
                e = t["expect"]
                self.assertEqual(e["deleted"], 0)
                # re-sent rows are already in Gold: at most the new rows load
                self.assertLessEqual(e["gold"][0], size["per_tick"])
                self.assertLessEqual(e["gold"][2], len(gen.EVENT_TYPES))
            self.assertEqual(m["replay"]["gold"], [0, 0, 0])
            self.assertEqual(m["replay"]["deleted"], 0)

    def test_swept_dirs_takes_the_highest_expired_level(self):
        parts = {(2023, 12, 30), (2024, 1, 5), (2024, 2, 1), (2024, 2, 20)}
        # cutoff 2024-02-10: year 2023 whole, month 2024-01 whole, day 02-01
        self.assertEqual(gen._swept_dirs(parts, dt.date(2024, 2, 10)), 3)
        self.assertEqual(gen._swept_dirs(parts, dt.date(2023, 12, 1)), 0)


if __name__ == "__main__":
    unittest.main()
