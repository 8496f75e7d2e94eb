"""Tests of the benchmark's seeded input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The stream test runs the benchmark JVM's `genstream` mode, so it builds the
benchmark first when needed.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(seed, out):
    sf = run.WORKLOADS["llm-dedup"]["sf"]
    return inputs.write(inputs.relabel(inputs.tables(seed, sf), seed), out, seed)


class BatchInputs(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            generate(7, a)
            generate(7, b)
            generate(8, c)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_relabel_is_a_bijection(self):
        base = inputs.tables(4, 0.01)
        out = inputs.relabel(base, 4)
        for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
            ids = out[name].column(key).to_numpy()
            self.assertEqual(sorted(ids), list(range(base[name].num_rows)), key)
            self.assertNotEqual(list(ids), list(base[name].column(key).to_numpy()), key)
            for col in out[name].schema.names:
                if col != key:
                    self.assertTrue(out[name].column(col).equals(base[name].column(col)), col)

    def test_planted_duplicates(self):
        docs = inputs.tables(5, 0.1)["documents"].column("text").to_pylist()
        near = sum(t.endswith(" dup") for t in docs)
        self.assertGreater(near, 0.03 * len(docs))
        self.assertLess(len(set(docs)), len(docs))


class StreamInputs(unittest.TestCase):
    def genstream(self, seed, d):
        cp = run.classpath()
        cmd = ["java", "-Xmx1g"] + [x for p in run.JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", cp, "graftbench.Main", "genstream", "--seed", str(seed),
                "--events", "4000", "--files", "8", "--dir", d]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        line = [l for l in out.splitlines() if l.startswith("@bench ")][-1]
        return json.loads(line[len("@bench "):])

    def test_reference_attacks_equal_planted_bursts_and_seed_repeats(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra = self.genstream(11, a)
            rb = self.genstream(11, b)
            self.assertEqual(ra["bursts"], 4000 // 200)
            self.assertEqual(ra["reference_attacks"], ra["bursts"])
            self.assertEqual(ra, rb)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(len(glob.glob(os.path.join(a, "*.json"))), 8)


if __name__ == "__main__":
    unittest.main()
