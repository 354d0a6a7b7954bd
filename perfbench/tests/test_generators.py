"""The benchmark's inputs are a pure function of the seed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import requests  # noqa: E402


def digest(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class RequestStreamTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            requests.write(a, 7)
            requests.write(b, 7)
            for name in ("pool.tsv", "stream.tsv"):
                self.assertEqual((Path(a) / name).read_bytes(), (Path(b) / name).read_bytes(), name)

    def test_other_seed_gives_other_requests(self):
        self.assertNotEqual(digest(requests.generate(7)[0]), digest(requests.generate(8)[0]))

    def test_every_seed_has_the_same_template_mix(self):
        def templates(stream):
            return [line.split("\t")[1].rstrip("0123456789") for line in stream]
        self.assertEqual(templates(requests.generate(7)[1]), templates(requests.generate(8)[1]))

    def test_a_round_runs_every_template_its_weight_times_per_client(self):
        pool, stream = requests.generate(7)
        names = sorted(line.split("\t")[1].rstrip("0123456789") for line in stream)
        self.assertEqual(names, sorted(requests.CLIENTS * [name for name, _ in requests.TEMPLATES
                                                           for _ in range(requests.WEIGHTS.get(name, 1))]))

    def test_stream_names_only_pool_requests(self):
        pool, stream = requests.generate(7)
        ids = {line.split("\t")[0] for line in pool}
        self.assertEqual(len(ids), len(pool))
        self.assertTrue(all(line.split("\t")[1] in ids for line in stream))
        self.assertEqual(len(ids), len(requests.TEMPLATES))


class TableGeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(a, 7)
            gen.generate(b, 7)
            names = sorted(p.name for p in Path(a).iterdir())
            self.assertEqual(len(names), 10)
            for name in names:
                self.assertEqual((Path(a) / name).read_bytes(), (Path(b) / name).read_bytes(), name)


if __name__ == "__main__":
    unittest.main()
