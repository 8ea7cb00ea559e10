"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The first test is pure Python; the others start the harness JVM (about
20 s each, plus one compile on a fresh checkout).
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import civicgen  # noqa: E402


def bench(*args):
    """Run the benchmark; return (exit code, stdout lines, stderr)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=600)
    return p.returncode, p.stdout.decode().splitlines(), p.stderr.decode()


def tree(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            out[os.path.relpath(os.path.join(d, n), root)] = os.path.join(d, n)
    return out


class CivicGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                civicgen.generate(seed, os.path.join(tmp, name), 2)
            a, b, c = (tree(os.path.join(tmp, n)) for n in "abc")
            self.assertEqual(sorted(a), sorted(b))
            for rel in a:
                self.assertTrue(filecmp.cmp(a[rel], b[rel], shallow=False), rel)
            differ = [rel for rel in a if rel in c and not filecmp.cmp(a[rel], c[rel], shallow=False)]
            self.assertTrue(differ or sorted(a) != sorted(c))
        finally:
            shutil.rmtree(tmp)


class OutputCheckTest(unittest.TestCase):
    QUERIES = "q08_merge_upsert,q09_current_role"

    def test_clean_run_is_correct(self):
        code, out, err = bench("--workload", "fixed_cost", "--seed", "1", "--seconds", "1",
                               "--only", self.QUERIES)
        self.assertEqual(code, 0, err[-2000:])
        r = json.loads(out[-1])
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)

    def test_corrupted_result_is_caught(self):
        code, out, err = bench("--workload", "fixed_cost", "--seed", "1", "--seconds", "1",
                               "--only", self.QUERIES, "--corrupt", "q08_merge_upsert")
        self.assertEqual(code, 0, err[-2000:])
        r = json.loads(out[-1])
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)
        self.assertTrue(any("failure: q08_merge_upsert" in line for line in out))


class TraceAttributionTest(unittest.TestCase):
    def test_every_job_inside_its_operation(self):
        # q47 pins and runs its connected-components rounds as eager jobs
        code, out, err = bench("--workload", "fixed_cost", "--seed", "3", "--seconds", "1",
                               "--trace", "1", "--keep", "1",
                               "--only", "q47_dedup_apply,q30_spatial_join")
        self.assertEqual(code, 0, err[-2000:])
        rundir = re.search(r"run directory kept at (\S+)", err).group(1)
        try:
            rows = [json.loads(l) for l in open(os.path.join(rundir, "trace.jsonl"))]
        finally:
            shutil.rmtree(rundir)
        ops = {r["op"]: r for r in rows if r["kind"] == "op"}
        jobs = [r for r in rows if r["kind"] == "job"]
        self.assertGreater(len(jobs), 10)
        for j in jobs:
            self.assertIn(j["op"], ops, j)
            op = ops[j["op"]]
            self.assertLessEqual(op["start_ms"], j["start_ms"], j)
            self.assertLessEqual(j["end_ms"], op["end_ms"], j)
        r = json.loads(out[-1])
        self.assertEqual(r["metrics"]["trace.unattributed_jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
