"""The generator is a pure function of the seed."""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SCALE = 0.001


def file_digests(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, f), d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def plan_steps(plan):
    """The plan's lines with the run-specific directory stripped."""
    with open(plan) as f:
        return [" ".join(ln.split()[:3]) for ln in f.read().splitlines()]


class GenTest(unittest.TestCase):
    def prepare(self, seed, workload, d):
        plan, _, _, versions = gen.prepare(seed, workload, d, scale=SCALE)
        return plan_steps(plan), file_digests(d), versions

    def test_same_seed_same_stream_and_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            steps_a, files_a, versions = self.prepare(7, "serve_refresh", a)
            steps_b, files_b, _ = self.prepare(7, "serve_refresh", b)
        self.assertEqual(steps_a, steps_b)
        self.assertEqual(files_a, files_b)
        # the corpus and every refreshed version are among the files compared
        self.assertTrue(any(k[1] > 0 for k in versions))
        self.assertTrue(any(f.startswith("staged") for f in files_a))
        self.assertEqual(sum(1 for f in files_a if f.startswith("corpus")), 10)

    def test_seed_fixes_stream_and_refreshes_not_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            steps_a, files_a, _ = self.prepare(1, "serve_refresh", a)
            steps_b, files_b, _ = self.prepare(2, "serve_refresh", b)
        self.assertNotEqual(steps_a, steps_b)
        corpus = [f for f in files_a if f.startswith("corpus")]
        self.assertEqual([files_a[f] for f in corpus], [files_b[f] for f in corpus])
        staged = sorted(set(f for f in files_a if f.startswith("staged")) &
                        set(f for f in files_b if f.startswith("staged")))
        self.assertTrue(staged)
        self.assertTrue(any(files_a[f] != files_b[f] for f in staged))

    def test_every_round_asks_the_same_mix(self):
        for workload, queries in (("serve_steady", gen.SERVE), ("batch_curation", gen.BATCH)):
            for steps in gen.stream(3, workload):
                calls = sorted(s[1] for s in steps if s[0] == "call")
                self.assertEqual(calls, sorted(queries * gen.PER_ROUND.get(workload, 1)))

    def test_refresh_keeps_ids_and_appends(self):
        with tempfile.TemporaryDirectory() as d:
            files = gen.corpus(5, d, scale=SCALE)
            for table, key in (("events", "event_id"), ("documents", "doc_id"),
                               ("embeddings", "vec_id")):
                prev = pq.read_table(files[table])
                new = gen.mutate(5, table, 1, prev)
                self.assertEqual(new.schema, prev.schema)
                ids = new.column(key).to_pylist()
                self.assertEqual(ids[:prev.num_rows], prev.column(key).to_pylist())
                self.assertEqual(len(set(ids)), len(ids))
                self.assertGreater(new.num_rows, prev.num_rows)
                self.assertNotEqual(new, prev)


if __name__ == "__main__":
    unittest.main()
