"""Generator tests: the same seed gives byte-identical inputs, another seed changes them.

Run: python3 -m unittest discover -s graftbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(root):
    """One hash over every file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def make(self, fn, seed, name, **kw):
        out = os.path.join(self.tmp, name)
        fn(seed, out, **kw)
        return digest(out)

    def check(self, fn, **kw):
        a = self.make(fn, 7, "a", **kw)
        self.assertEqual(a, self.make(fn, 7, "b", **kw), "same seed must give identical bytes")
        self.assertNotEqual(a, self.make(fn, 8, "c", **kw), "another seed must change the inputs")

    def test_tables(self):
        self.check(gen.tables)

    def test_landing(self):
        self.check(gen.landing, days=6)

    def test_batches(self):
        self.check(gen.batches, n=3, rows=50)

    def test_landing_manifest_matches_files(self):
        out = os.path.join(self.tmp, "l")
        manifest = gen.landing(3, out, days=6)
        restated = 0
        for day in manifest["days"]:
            for p in day["partitions"]:
                d = (f"{out}/source={gen.SOURCE}/customer_id={p['customer_id']}/query_name={p['query_name']}"
                     f"/logical_date={p['logical_date']}/run_id={day['run_id']}")
                with open(f"{d}/part-00000.jsonl") as f:
                    self.assertEqual(sum(1 for _ in f), p["rows"])
                with open(f"{d}/_SEAL.json") as f:
                    self.assertEqual(json.load(f)["record_count"], p["rows"])
                restated += p["restated"]
        self.assertGreater(restated, 0, "the landing must carry late restatements")

    def test_batch_sequence(self):
        out = os.path.join(self.tmp, "s")
        gen.batches(3, out, n=4, rows=20)
        names = sorted(os.listdir(out))
        self.assertEqual(names, [f"batch_{b:05d}.jsonl" for b in range(4)])
        with open(os.path.join(out, names[0])) as f:
            rows = [json.loads(line) for line in f]
        self.assertEqual(len(rows), 20)
        self.assertEqual(len({r["event_id"] for r in rows}), 20)


if __name__ == "__main__":
    unittest.main()
