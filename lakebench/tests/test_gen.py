"""The seeded generator: deterministic per seed, different across seeds,
and the counts it implies agree with a direct recount."""
import datetime as dt
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def canonical(url):
    return url.replace("/?utm_source=feed", "")


class GenTest(unittest.TestCase):
    def test_catalog_tables_deterministic_per_seed(self):
        a, b, c = gen.catalog_tables(7, 0.001), gen.catalog_tables(7, 0.001), gen.catalog_tables(8, 0.001)
        self.assertEqual(sorted(a), sorted(gen.catalog_tables(7, 0.001)))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertTrue(a["region"].equals(c["region"]))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))

    def test_catalog_schema(self):
        t = gen.catalog_tables(1, 0.001)
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(str(t["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")

    def test_candidates_deterministic_per_seed(self):
        a = gen.candidate_batches(3, [20] * 4, 0.2)
        b = gen.candidate_batches(3, [20] * 4, 0.2)
        c = gen.candidate_batches(4, [20] * 4, 0.2)
        self.assertEqual(a[1], b[1])
        self.assertTrue(all(x.equals(y) for x, y in zip(a[0], b[0])))
        self.assertFalse(all(x.equals(y) for x, y in zip(a[0], c[0])))

    def test_expected_counts_match_a_recount(self):
        batches, expected = gen.candidate_batches(5, [300, 40, 40], 0.3)
        cutoff = gen.NOW.date() - dt.timedelta(days=gen.WINDOW_DAYS)
        seen = set()
        for t, e in zip(batches, expected):
            rows = t.to_pylist()
            self.assertEqual(e["candidates"], len(rows))
            first = {}
            for r in sorted(rows, key=lambda r: (r["connector_rank"], r["url"])):
                first.setdefault(canonical(r["url"]), r)
            keep = {u for u, r in first.items() if r["published_date"] is None
                    or dt.date.fromisoformat(r["published_date"]) >= cutoff}
            self.assertEqual(e["discovered"], len(keep))
            self.assertEqual(e["new_docs"], len(keep - seen))
            seen |= keep
        # the shares all show up
        rows = batches[0].to_pylist()
        self.assertTrue(any(r["connector_rank"] == 1 for r in rows))
        self.assertTrue(any(r["published_date"] is None for r in rows))
        self.assertTrue(any(r["url"].startswith(gen.REVIEW_PREFIX) for r in rows))
        self.assertLess(expected[0]["discovered"], len({canonical(r["url"]) for r in rows}))
        self.assertLess(expected[1]["new_docs"], expected[1]["discovered"])


if __name__ == "__main__":
    unittest.main()
