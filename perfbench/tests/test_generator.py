"""Tests of the OHLCV generator: determinism, file shapes, and that the
expected counts match the files it writes.

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import datetime
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import ohlcv  # noqa: E402


def digest(d):
    h = hashlib.sha1()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


_DIRS = []


def tearDownModule():
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)


def generate(workload, seed, size):
    out = tempfile.mkdtemp()
    _DIRS.append(out)
    fn = {"backfill_deep": gen.backfill_deep, "daily_wide": gen.daily_wide}[workload]
    plan, expected = fn(seed, out, size)
    return out, plan, expected


def read_dir(d):
    """{symbol: data lines} read back from disk with the csv module."""
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), newline="") as fh:
            rows = list(csv.reader(fh))
        out[f[:-4]] = [",".join(r) for r in rows[1:]]
    return out


BACKFILL = {"symbols": 8, "days": 2000, "stale_every": 4}
DAILY = {"symbols": 6, "days": 15, "max_days": 3}


class Determinism(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        a, _, ea = generate("backfill_deep", 7, BACKFILL)
        b, _, eb = generate("backfill_deep", 7, BACKFILL)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ea, eb)

    def test_other_seed_other_bytes(self):
        a, _, _ = generate("backfill_deep", 7, BACKFILL)
        b, _, _ = generate("backfill_deep", 8, BACKFILL)
        self.assertNotEqual(digest(a), digest(b))

    def test_daily_batches_deterministic(self):
        a, pa, ea = generate("daily_wide", 3, DAILY)
        b, pb, eb = generate("daily_wide", 3, DAILY)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ea, eb)
        self.assertEqual(len(pa), 1 + DAILY["max_days"])


class Shapes(unittest.TestCase):

    def test_fx_files_have_no_volume(self):
        out, plan, _ = generate("backfill_deep", 1, BACKFILL)
        for f in os.listdir(plan[0][1]):
            with open(os.path.join(plan[0][1], f)) as fh:
                head = fh.readline().strip()
            want = "Date,Open,High,Low,Close" + ("" if f.startswith("FX") else ",Volume")
            self.assertEqual(head, want, f)

    def test_every_injection_occurs(self):
        _, _, exp = generate("backfill_deep", 1, BACKFILL)
        load = exp["load"]
        for reason in ("missing_prices", "non_positive_price",
                       "ohlc_inconsistent", "invalid_volume"):
            self.assertGreater(load["rejected_by_reason"][reason], 0, reason)
        self.assertEqual(load["rejected_by_reason"]["missing_key"], 0)
        for check in ("missing_trading_days", "sudden_price_jump", "stale_data"):
            self.assertGreater(load["dq_fail_by_check"][check], 0, check)

    def test_duplicates_and_null_closes_shrink_bronze(self):
        out, plan, exp = generate("backfill_deep", 1, BACKFILL)
        lines = sum(len(v) for v in read_dir(plan[0][1]).values())
        self.assertLess(exp["load"]["bronze"], lines)

    def test_daily_batch_is_one_clean_row_per_symbol(self):
        out, plan, exp = generate("daily_wide", 2, DAILY)
        for p in plan[1:]:
            batch = read_dir(p[2])
            self.assertEqual(len(batch), DAILY["symbols"])
            for lines in batch.values():
                self.assertEqual(len(lines), 1)
                self.assertIsNone(ohlcv.reject_reason(ohlcv.parse(lines[0])))
                self.assertEqual(lines[0].split(",")[0], p[3])


class CountsMatchFiles(unittest.TestCase):
    """Expected counts recomputed from the files on disk."""

    def test_backfill(self):
        out, plan, exp = generate("backfill_deep", 5, BACKFILL)
        wh = ohlcv.Warehouse()
        wh.ingest(read_dir(plan[0][1]))
        got, _ = wh.expected(datetime.date.fromisoformat(plan[0][2]))
        self.assertEqual(got, exp["load"])
        self.assertEqual(int(plan[0][3]), sum(
            os.path.getsize(os.path.join(plan[0][1], f)) for f in os.listdir(plan[0][1])))

    def test_daily_and_idempotent_rerun(self):
        out, plan, exp = generate("daily_wide", 5, DAILY)
        wh = ohlcv.Warehouse()
        wh.ingest(read_dir(plan[0][1]))
        got, silver = wh.expected(datetime.date.fromisoformat(plan[0][2]))
        got["analyst"] = wh.analyst(silver, "EQ0000")
        self.assertEqual(got, exp["history"])
        self.assertEqual(got["analyst"]["latest_date"], plan[0][4])
        for p, want in zip(plan[1:], exp["days"]):
            today = datetime.date.fromisoformat(p[4])
            wh.ingest(read_dir(p[2]))
            first, silver = wh.expected(today)
            wh.ingest(read_dir(p[2]))  # the same batch again
            again, _ = wh.expected(today)
            self.assertEqual(first, again)
            first["analyst"] = wh.analyst(silver, "EQ0000")
            first["csv_bytes"] = want["csv_bytes"]
            self.assertEqual(first, want)


class RejectRules(unittest.TestCase):
    """FIXTURES.md section 3, one row per reject path, in precedence order."""

    D = datetime.date(2025, 12, 22)

    def reason(self, o, h, l, c, v):
        return ohlcv.reject_reason((self.D, o, h, l, c, v))

    def test_each_rule(self):
        self.assertEqual(self.reason(None, 11, 9, 10, 5), "missing_prices")
        self.assertEqual(self.reason(10, 11, -0.5, 10, 5), "non_positive_price")
        self.assertEqual(self.reason(0, 11, 9, 10, 5), "non_positive_price")
        self.assertEqual(self.reason(10, 9, 8, 9.5, 5), "ohlc_inconsistent")
        self.assertEqual(self.reason(10, 11, 9, 10, -100), "invalid_volume")
        self.assertIsNone(self.reason(10, 11, 9, 10, None))  # FX: null volume is valid

    def test_first_failing_rule_wins(self):
        self.assertEqual(self.reason(None, 11, -1, 10, -100), "missing_prices")
        self.assertEqual(self.reason(10, 9, -1, 9.5, -100), "non_positive_price")


if __name__ == "__main__":
    unittest.main()
