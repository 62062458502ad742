"""The generator is deterministic and covers the edge cases it promises.

    python3 -m unittest discover -s perfbench/tests
"""

import datetime as dt
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def read_all(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def records(d, manifest):
    for f in manifest["files"]:
        with open(os.path.join(d, f["part"], f["name"])) as fh:
            body = json.load(fh)
        yield from (body.values() if isinstance(body, dict) else body)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.m = gen.generate(cls.a, 7, 3, 1, 200)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        b = os.path.join(self.tmp.name, "b")
        gen.generate(b, 7, 3, 1, 200)
        self.assertEqual(read_all(self.a), read_all(b))

    def test_other_seed_other_bytes(self):
        c = os.path.join(self.tmp.name, "c")
        gen.generate(c, 8, 3, 1, 200)
        self.assertNotEqual(read_all(self.a)["base/day-000.json"], read_all(c)["base/day-000.json"])

    def test_both_envelopes_and_parts(self):
        first = {f["name"]: f for f in self.m["files"]}
        self.assertEqual([f["part"] for f in self.m["files"]], ["base"] * 3 + ["stream"])
        with open(os.path.join(self.a, "base", "day-000.json")) as fh:
            self.assertIsInstance(json.load(fh), dict)
        with open(os.path.join(self.a, "base", "day-001.json")) as fh:
            self.assertIsInstance(json.load(fh), list)
        self.assertEqual(sum(f["records"] for f in first.values()), 800)

    def test_edge_cases_present(self):
        recs = list(records(self.a, self.m))
        stats = [r["auction_stats"] for r in recs]
        self.assertTrue(any(s["auction_status"] is None for s in stats))
        self.assertTrue(any(s["auction_status"] in ("pending", "Live", "") for s in stats))
        self.assertTrue(any(isinstance(s["auction_date"], int) for s in stats))
        self.assertTrue(any(isinstance(s["auction_date"], str) and s["auction_date"].isdigit()
                            for s in stats))
        self.assertTrue(any("junk" in s["bids"] for s in stats))
        self.assertTrue(any(len(s["bids"]) < 2 for s in stats))
        self.assertTrue(any("view_count" not in s for s in stats))
        self.assertTrue(any("watcher_count" not in s for s in stats))
        self.assertTrue(any("services" in r for r in recs))
        self.assertTrue(any("," not in r["auction_quick_facts"]["Location"] for r in recs))

    def test_date_locality(self):
        """New auctions end on their file's day; a re-scrape is a strictly
        later end time on the original auction's day."""
        seen = {}
        for f in self.m["files"]:
            day = dt.date(2024, 1, 1) + dt.timedelta(days=int(f["name"][4:7]))
            with open(os.path.join(self.a, f["part"], f["name"])) as fh:
                body = json.load(fh)
            for r in (body.values() if isinstance(body, dict) else body):
                d = r["auction_stats"]["auction_date"]
                ts = (dt.datetime.fromtimestamp(int(d) / 1000, dt.timezone.utc).replace(tzinfo=None)
                      if isinstance(d, int) or d.isdigit()
                      else dt.datetime.fromisoformat(d.replace(" ", "T")))
                url = r["auction_url"]
                if url in seen:
                    self.assertGreater(ts, seen[url])
                    self.assertEqual(ts.date(), seen[url].date())
                else:
                    self.assertEqual(ts.date(), day)
                seen[url] = ts
        self.assertTrue(any(len(f["dates_touched"]) > 1 for f in self.m["files"]))


if __name__ == "__main__":
    unittest.main()
