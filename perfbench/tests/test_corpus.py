"""Generator determinism: python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout; the first run compiles the harness."""

import filecmp
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402

BYTES = 8 << 20


class CorpusDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.root = os.getcwd()
        cls.jars = run.spark_jars()
        cls.classes, cls.bench = run.build(cls.root, cls.jars)
        cls.work = os.path.join(cls.root, ".bench_work", "test-corpus")
        shutil.rmtree(cls.work, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def generate(self, name, seed):
        d = os.path.join(self.work, name)
        cp = ":".join([self.bench, self.classes] + self.jars)
        subprocess.run([run.java(), "-Xmx1g", "-XX:-UsePerfData", "-cp", cp, "graftbench.Main", "--mode", "corpus",
                        "--dir", d, "--seed", str(seed), "--bytes", str(BYTES)], check=True)
        return d

    def manifest(self, d):
        with open(os.path.join(d, "manifest.tsv")) as fh:
            return [line.rstrip("\n").split("\t") for line in fh][1:]

    def test_same_seed_same_bytes(self):
        a, b = self.generate("a", 7), self.generate("b", 7)
        files = sorted(os.listdir(os.path.join(a, "inputs")))
        self.assertEqual(files, sorted(os.listdir(os.path.join(b, "inputs"))))
        _, mismatch, errors = filecmp.cmpfiles(os.path.join(a, "inputs"), os.path.join(b, "inputs"),
                                               files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertTrue(filecmp.cmp(os.path.join(a, "manifest.tsv"), os.path.join(b, "manifest.tsv"),
                                    shallow=False))

    def test_other_seed_other_corpus_same_size(self):
        a, c = self.manifest(self.generate("a2", 7)), self.manifest(self.generate("c", 8))
        self.assertNotEqual([r[3] for r in a], [r[3] for r in c])
        # the decompressed total is exact for every seed
        self.assertEqual(sum(int(r[2]) for r in a), BYTES)
        self.assertEqual(sum(int(r[2]) for r in c), BYTES)

    def test_corpus_shape(self):
        rows = self.manifest(self.generate("d", 9))
        inputs = {r[0] for r in rows}
        self.assertEqual(len(inputs), 24)
        for suffix in (".tar.gz", ".tar.zst", ".tar.xz", ".tar.bz2"):
            self.assertTrue(any(i.endswith(suffix) for i in inputs), suffix)
        paths = [r[1] for r in rows]
        for nest in ("inner.tar/", "bundle.zip/", "bundle.zip/pkg/vendor.tar.gz/"):
            self.assertTrue(any(nest in p for p in paths), nest)
        self.assertTrue(all(int(r[2]) > 0 for r in rows))
        dups = len(rows) - len({r[3] for r in rows})
        self.assertGreater(dups, 0)


if __name__ == "__main__":
    unittest.main()
