"""Pins the benchmark's seeded generators: the same seed gives byte-identical
key orders, flow events and documents, and the fixed dataset is identical
on every write.

    python3 perfbench/test_inputs.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_fixture  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ["batch_relational", "batch_dedup", "stream_score", "stream_ingest"]


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.fx = os.path.join(cls.tmp.name, "fx")
        gen_fixture.main(cls.fx)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def gen(self, tag, workload, seed, **kw):
        d = os.path.join(self.tmp.name, f"{tag}-{workload}-{seed}")
        inputs.write(d, workload, seed, 10, self.fx, **kw)
        return digest(d)

    def test_fixture_is_identical_on_every_write(self):
        again = os.path.join(self.tmp.name, "fx2")
        gen_fixture.main(again)
        self.assertEqual(digest(self.fx), digest(again))

    def test_same_seed_same_bytes(self):
        for w in WORKLOADS:
            self.assertEqual(self.gen("a", w, 7), self.gen("b", w, 7), w)
        self.assertEqual(self.gen("a", "stream_score", 7, traced=True),
                         self.gen("b", "stream_score", 7, traced=True))

    def test_another_seed_other_bytes(self):
        for w in WORKLOADS:
            self.assertNotEqual(self.gen("c", w, 7), self.gen("c", w, 8), w)

    def test_batch_passes_are_permutations_of_the_key_set(self):
        d = os.path.join(self.tmp.name, "perm")
        inputs.write(d, "batch_dedup", 3, 10, self.fx)
        with open(os.path.join(d, "keys.txt")) as f:
            passes = [l.strip().split(",") for l in f]
        self.assertEqual(len(passes), inputs.PASSES)
        for p in passes:
            self.assertEqual(sorted(p), sorted(inputs.KEYS["batch_dedup"]))


if __name__ == "__main__":
    unittest.main()
