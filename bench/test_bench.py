"""Tests of the benchmark itself.

    python3 -m unittest discover -s bench -p 'test_*.py'

* generator determinism: the same seed gives the same bytes, another
  seed gives other bytes;
* the planted-truth manifest check on a tiny corpus (a full triage_raw
  run, which fails if any pipeline count disagrees with the manifest);
* span/listener attribution on a two-layer toy with known jobs and tasks.

The last two build the engine first if needed (about a minute).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fp:
                h.update(fp.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def corpus(self, name, seed):
        out = os.path.join(self.tmp, name)
        gen.gen_corpus(out, seed, 3000)
        return tree_digest(out)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.corpus("a", 11), self.corpus("b", 11))

    def test_new_seed_new_bytes(self):
        self.assertNotEqual(self.corpus("a", 11), self.corpus("b", 12))

    def test_documents_are_deterministic(self):
        a, b = os.path.join(self.tmp, "da"), os.path.join(self.tmp, "db")
        gen.gen_documents(a, 42, 200)
        gen.gen_documents(b, 42, 200)
        with open(os.path.join(a, "documents.jsonl"), "rb") as fa, \
                open(os.path.join(b, "documents.jsonl"), "rb") as fb:
            self.assertEqual(fa.read(), fb.read())

    def test_manifest_counts_add_up(self):
        m = gen.gen_corpus(os.path.join(self.tmp, "m"), 5, 3000)
        self.assertEqual(m["rows_parsed"] - m["rows_dropped"], m["rows_after_dedup"])
        self.assertEqual(m["lines_total"],
                         m["rows_parsed"] + m["rows_rejected"] + m["lines_skipped"])
        self.assertGreater(m["tool_rows"], 0)
        self.assertGreater(m["burst_rows"], 0)


class EngineTest(unittest.TestCase):
    def test_manifest_check_on_tiny_corpus(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "triage_raw",
             "--seed", "3", "--seconds", "1", "--trace", "0", "--lines", "1500"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)

    def test_span_attribution_on_two_layer_toy(self):
        classes = build.build()
        work = os.path.join(WORK, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "result.json")
        run.run_jvm(classes, ["--selftest", "spans", "--work", work, "--out", out],
                    os.path.join(work, "jvm.log"), run.RUN_LIMIT_S)
        with open(out) as fp:
            r = json.load(fp)
        self.assertEqual(r["failures"], [])
        self.assertEqual(r["attempted"], 9)


if __name__ == "__main__":
    unittest.main()
