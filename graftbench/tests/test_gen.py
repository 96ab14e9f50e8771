"""Generator checks: seeded determinism and the stated input shares.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def digests(root):
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            out[os.path.relpath(p, root)] = gen.digest(p)
    return out


class SeededTest(unittest.TestCase):
    def write_all(self, root, seed):
        gen.write_sync(os.path.join(root, "sync"), seed, 2, 5_000)
        gen.write_corpus(os.path.join(root, "corpus"), seed, 300)
        gen.write_changes(os.path.join(root, "changes"), seed, 2, 500)
        return digests(root)

    def test_same_seed_same_content_and_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            da, db = self.write_all(a, 7), self.write_all(b, 7)
            dc = self.write_all(c, 8)
        self.assertEqual(da, db)
        self.assertEqual(da.keys(), dc.keys())
        for k in da:
            self.assertNotEqual(da[k], dc[k], k)


class ShareTest(unittest.TestCase):
    def test_sync_skew_new_keys_and_order(self):
        ev = gen.sync_batch(3, 0, 200_000).to_pandas()
        counts = np.sort(ev.user_id.value_counts().to_numpy())[::-1]
        top = counts[: gen.SYNC_KEYS // 100].sum() / len(ev)
        self.assertAlmostEqual(top, gen.SYNC_TOP1PCT_SHARE,
                               delta=gen.SYNC_SHARE_TOL)
        base = set(gen.base_customers(3)["c_custkey"].to_pylist())
        missing = 1 - len(base) / gen.SYNC_KEYS
        self.assertAlmostEqual(missing, gen.SYNC_NEW_KEY_SHARE,
                               delta=gen.SYNC_SHARE_TOL)
        # the INSERT path is exercised, and ts is out of event_id order
        self.assertGreater((~ev.user_id.isin(base)).sum(), 0)
        self.assertGreater((ev.ts.diff().dt.total_seconds() < 0).mean(), 0.1)
        self.assertEqual(set(ev.event_type), set(gen.EVENT_TYPES))

    def test_events_ts_is_micros_not_utc_adjusted(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_sync(d, 1, 1, 100)
            col = pq.ParquetFile(os.path.join(d, "b0", "events.parquet")) \
                .schema.column(1)
        self.assertEqual(col.name, "ts")
        lt = col.logical_type
        self.assertEqual(lt.type, "TIMESTAMP")
        self.assertIn('"isAdjustedToUTC": false', lt.to_json())
        self.assertIn('"timeUnit": "microseconds"', lt.to_json())

    def test_corpus_shares(self):
        table, kind = gen.corpus(5, 4_000)
        texts = table["text"].to_pylist()
        share = lambda k: float((kind == k).mean())  # noqa: E731
        tol = gen.DOC_SHARE_TOL
        self.assertAlmostEqual(share(1), gen.DOC_EXACT_DUP_SHARE, delta=tol)
        self.assertAlmostEqual(share(2), gen.DOC_NEAR_DUP_SHARE, delta=tol)
        self.assertAlmostEqual(share(3), gen.DOC_LOW_QUALITY_SHARE, delta=tol)
        seen = set()
        for t, k in zip(texts, kind):
            if k == 1:
                self.assertIn(t, seen)      # a verbatim earlier text
            if k == 3:
                self.assertLess(len(t), 50)  # fails the length gate
            seen.add(t)

    def test_lww_reference_takes_latest_change_per_key(self):
        tables = [gen.change_file(2, i, 300) for i in range(3)]
        ref = gen.lww_reference(tables)
        rows = [r for t in tables for r in t.to_pylist()]
        for uid in list(ref)[:50]:
            best = max((r for r in rows if r["user_id"] == uid),
                       key=lambda r: (r["ems"], r["event_id"]))
            self.assertEqual(ref[uid], (best["event_id"], best["ems"],
                                        best["op"], best["value_cents"]))


if __name__ == "__main__":
    unittest.main()
