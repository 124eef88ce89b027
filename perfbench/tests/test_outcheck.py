"""Result digests follow the repository's canonical comparison rules."""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import outcheck  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 0.25, 0.125]})
        b = pd.DataFrame({"v": [0.125, 0.5, 0.25], "k": [3, 1, 2]})
        self.assertEqual(outcheck.digest(a), outcheck.digest(b))

    def test_values_are_compared_at_full_precision(self):
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        self.assertNotEqual(outcheck.digest(a), outcheck.digest(b))

    def test_nan_and_null_are_one_token(self):
        a = pd.DataFrame({"v": [float("nan")], "s": [None]})
        b = pd.DataFrame({"v": [None], "s": [None]}, dtype=object)
        self.assertEqual(outcheck.digest(a), outcheck.digest(b))

    def test_duplicate_rows_count(self):
        a = pd.DataFrame({"k": [1, 1]})
        b = pd.DataFrame({"k": [1]})
        self.assertNotEqual(outcheck.digest(a), outcheck.digest(b))

    def test_version_keys(self):
        self.assertEqual(outcheck.parse_version("documents=0,embeddings=2"),
                         {"documents": 0, "embeddings": 2})
        self.assertEqual(outcheck.parse_version(""), {})

    def test_check_flags_wrong_and_stale_results(self):
        with tempfile.TemporaryDirectory() as d:
            v0 = os.path.join(d, "t0.parquet")
            v1 = os.path.join(d, "t1.parquet")
            pd.DataFrame({"x": [1, 2]}).to_parquet(v0)
            pd.DataFrame({"x": [1, 2, 3]}).to_parquet(v1)
            files = {(t, 0): v0 for t in outcheck.TABLES}
            files[("events", 1)] = v1
            good, stale = os.path.join(d, "good"), os.path.join(d, "stale")
            os.makedirs(good)
            os.makedirs(stale)
            pd.DataFrame({"n": [3]}).to_parquet(os.path.join(good, "part-0.parquet"))
            pd.DataFrame({"n": [2]}).to_parquet(os.path.join(stale, "part-0.parquet"))
            sql = {"q": "SELECT count(*) AS n FROM events"}
            dumps = [{"query": "q", "version": "events=1", "pass": "warm", "dir": good, "ok": True}]
            v = outcheck.check(dumps, sql, files)
            self.assertTrue(v[("q", "events=1", "warm")]["ok"])
            dumps = [{"query": "q", "version": "events=1", "pass": "warm", "dir": stale, "ok": True}]
            v = outcheck.check(dumps, sql, files)[("q", "events=1", "warm")]
            self.assertFalse(v["ok"])
            self.assertTrue(v["stale"])
            dumps = [{"query": "q", "version": "events=0", "pass": "warm", "dir": stale, "ok": False,
                      "error": "boom"}]
            self.assertFalse(outcheck.check(dumps, sql, files)[("q", "events=0", "warm")]["ok"])
            # the cold and the warm result of one version get a verdict each
            dumps = [{"query": "q", "version": "events=1", "pass": "cold", "dir": good, "ok": True},
                     {"query": "q", "version": "events=1", "pass": "warm", "dir": stale, "ok": True}]
            v = outcheck.check(dumps, sql, files)
            self.assertTrue(v[("q", "events=1", "cold")]["ok"])
            self.assertFalse(v[("q", "events=1", "warm")]["ok"])

if __name__ == "__main__":
    unittest.main()
