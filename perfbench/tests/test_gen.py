"""Generator tests: the same seed gives byte-identical inputs, and the
log tallies (hence the decided schema) do not depend on the seed.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
                  if f != "manifest.json")


class SameSeedSameBytes(unittest.TestCase):

    def assert_identical(self, a, b):
        fa, fb = files(a), files(b)
        self.assertEqual(fa, fb)
        self.assertTrue(fa)
        for f in fa:
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_tables_log_and_10x(self):
        with tempfile.TemporaryDirectory() as t:
            for d in ("a", "b"):
                gen.tables(os.path.join(t, d, "base"), 0.001, 7)
                gen.derive_10x(os.path.join(t, d, "base"), os.path.join(t, d, "x"), 3, 7)
                gen.mysql_log(os.path.join(t, d, "log"), 1000, 2, 7)
            self.assert_identical(os.path.join(t, "a"), os.path.join(t, "b"))

    def test_neardup_stream(self):
        with tempfile.TemporaryDirectory() as t:
            plans = [gen.neardup_stream(os.path.join(t, d), 7, n_docs=1000, batch_size=50) for d in "ab"]
            self.assertEqual(plans[0], plans[1])
            self.assert_identical(os.path.join(t, "a"), os.path.join(t, "b"))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.mysql_log(os.path.join(t, "a"), 1000, 1, 1)
            b = gen.mysql_log(os.path.join(t, "b"), 1000, 1, 2)
            self.assertFalse(filecmp.cmp(os.path.join(t, "a", "general.log.0"),
                                         os.path.join(t, "b", "general.log.0"), shallow=False))
            self.assertNotEqual(a["bytes"], 0)


class TalliesAcrossSeeds(unittest.TestCase):

    def test_log_tallies_do_not_depend_on_seed(self):
        with tempfile.TemporaryDirectory() as t:
            ts = [gen.mysql_log(os.path.join(t, str(s)), 2000, 2, s) for s in (1, 2, 3)]
            for x in ts[1:]:
                self.assertEqual(x["statements"], ts[0]["statements"])
                self.assertEqual(x["mentions"], ts[0]["mentions"])
                self.assertEqual(x["dml_mentions"], ts[0]["dml_mentions"])

    def test_log_records(self):
        """Query records are counted by the tallies; the other records are
        present so the parser has to skip them."""
        with tempfile.TemporaryDirectory() as t:
            tal = gen.mysql_log(t, 1000, 1, 5)
            text = open(os.path.join(t, "general.log.0")).read()
            self.assertEqual(text.count(" Query "), tal["statements"])
            for marker in (" Connect ", " Quit", " Statistics", "SET autocommit", "tmp_report_",
                           "\n    FROM lineitem JOIN orders"):
                self.assertIn(marker, text)

    def test_table_rows_fixed_by_scale(self):
        with tempfile.TemporaryDirectory() as t:
            r1 = gen.tables(os.path.join(t, "1"), 0.001, 1)
            r2 = gen.tables(os.path.join(t, "2"), 0.001, 2)
            for tab in ("region", "nation", "customer", "supplier", "part", "orders"):
                self.assertEqual(r1[tab], r2[tab])

    def test_any_seed_is_valid(self):
        """Negative seeds and seeds past 32 bits generate valid tables and
        keep the nation -> region key inside the five regions."""
        import duckdb
        for seed in (-3, 0, 30000, 2**31 + 1, 2**64 + 7):
            with tempfile.TemporaryDirectory() as t:
                rows = gen.tables(os.path.join(t, "base"), 0.001, seed)
                gen.derive_10x(os.path.join(t, "base"), os.path.join(t, "x"), 2, seed)
                keys = duckdb.connect().execute(
                    f"SELECT min(n_regionkey), max(n_regionkey) FROM '{os.path.join(t, 'base', 'nation.parquet')}'"
                ).fetchone()
                self.assertEqual(rows["nation"], 25, seed)
                self.assertEqual(keys, (0, 4), seed)

    def test_10x_keeps_foreign_keys(self):
        import duckdb
        with tempfile.TemporaryDirectory() as t:
            base, x = os.path.join(t, "base"), os.path.join(t, "x")
            r0 = gen.tables(base, 0.001, 3)
            r = gen.derive_10x(base, x, 10, 3)
            self.assertEqual(r["orders"], 10 * r0["orders"])
            self.assertEqual(r["lineitem"], 10 * r0["lineitem"])
            con = duckdb.connect()
            p = lambda n: os.path.join(x, f"{n}.parquet")
            orphans = con.execute(
                f"SELECT (SELECT count(*) FROM '{p('orders')}' WHERE o_custkey NOT IN (SELECT c_custkey FROM '{p('customer')}')) + "
                f"(SELECT count(*) FROM '{p('lineitem')}' WHERE l_orderkey NOT IN (SELECT o_orderkey FROM '{p('orders')}'))"
            ).fetchone()[0]
            self.assertEqual(orphans, 0)
            dup = con.execute(f"SELECT count(*) - count(DISTINCT o_orderkey) FROM '{p('orders')}'").fetchone()[0]
            self.assertEqual(dup, 0)

    def test_planted_duplicates(self):
        with tempfile.TemporaryDirectory() as t:
            plan = gen.neardup_stream(t, 4, n_docs=1000, batch_size=50)
            import duckdb
            rows = duckdb.connect().execute(
                f"SELECT batch, expect, count(*) FROM '{os.path.join(t, 'stream.parquet')}' GROUP BY 1, 2").fetchall()
            per = {}
            for b, e, c in rows:
                per.setdefault(b, {})[e] = c
            for b in range(plan["batches"]):
                self.assertEqual(per[b], {"keep": 44, "drop_exact": 3, "drop_near": 3})
            taken = [d for td in plan["takedowns"] for d in td]
            self.assertEqual(per[-1], {"keep": len(taken)})


if __name__ == "__main__":
    unittest.main()
