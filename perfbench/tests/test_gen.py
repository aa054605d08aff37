"""Determinism of the seeded input generator: the same seed gives
byte-identical inputs and identical tallies; another seed gives others.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(out):
    """Hash of every generated file's name and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


SMALL = {
    "ingest": lambda seed, out: gen.gen_ingest(seed, out, 2, 3, 300),
    "query": lambda seed, out: gen.gen_query(seed, out, 6, 300, 3, 20, 1, 40),
    "upsert": lambda seed, out: gen.gen_upsert(seed, out, 500, 1, 4, 50, 0.3, 2, 10),
    "curate": lambda seed, out: gen.gen_curate(seed, out, 50, 1, 3, 20, 0.1, 0.1),
}


def tallies(result, out):
    """The generator's output with paths made relative, so two runs in
    different directories compare equal."""
    def strip(v):
        if isinstance(v, str):
            return v.replace(out, "")
        if isinstance(v, list):
            return [strip(x) for x in v]
        if isinstance(v, dict):
            return {k: strip(x) for k, x in v.items()}
        return v
    return strip(result)


class DeterminismTest(unittest.TestCase):
    def run_twice(self, name, seed_a, seed_b):
        make = SMALL[name]
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra, rb = make(seed_a, a), make(seed_b, b)
            return (digest(a), tallies(ra, a)), (digest(b), tallies(rb, b))

    def test_same_seed_same_inputs_and_tallies(self):
        for name in SMALL:
            with self.subTest(workload=name):
                (da, ta), (db, tb) = self.run_twice(name, 7, 7)
                self.assertEqual(da, db)
                self.assertEqual(ta, tb)

    def test_other_seed_other_inputs_and_tallies(self):
        for name in SMALL:
            with self.subTest(workload=name):
                (da, ta), (db, tb) = self.run_twice(name, 7, 8)
                self.assertNotEqual(da, db)
                self.assertNotEqual(ta, tb)


class GroundTruthTest(unittest.TestCase):
    def test_ingest_tally_counts_every_row(self):
        with tempfile.TemporaryDirectory() as d:
            r = gen.gen_ingest(3, d, 1, 2, 500)
            self.assertEqual(r["tally"]["rows"], 1500)
            self.assertEqual(sum(v[0] for v in r["tally"]["per_user"].values()), 1500)

    def test_upsert_model_is_latest_wins_minus_deletes(self):
        with tempfile.TemporaryDirectory() as d:
            r = gen.gen_upsert(3, d, 200, 0, 4, 40, 0.25, 2, 5)
            deleted = {k for s in r["steps"] for k in s["delete"]}
            live = {row[0] for row in r["final"]}
            self.assertFalse(deleted & live)
            self.assertEqual(len(live), 200 + 4 * 10 - len(deleted))

    def test_curate_plants_duplicates_of_earlier_originals(self):
        with tempfile.TemporaryDirectory() as d:
            r = gen.gen_curate(3, d, 30, 0, 3, 20, 0.1, 0.1)
            planted = {int(k): v for k, v in r["planted"].items()}
            self.assertEqual(len(planted), 3 * 4)
            self.assertTrue(all(src < k and src not in planted for k, (src, _) in planted.items()))


if __name__ == "__main__":
    unittest.main()
