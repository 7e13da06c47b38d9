#!/usr/bin/env python3
"""The benchmark's own tests: workload membership, digest coverage and the
rotation of untimed output checks.

    python3 perfbench/tests/test_perfbench.py

Builds the benchmark if needed, then runs its `check` mode, which fails when
a `SparkEntry.queries` key is in no workload, in two, or has no expected
digest.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def check(bench_dir):
    cmd = run.java(["--mode", "check"])
    cmd[cmd.index("--bench") + 1] = bench_dir
    return subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=120)


class MembershipTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()

    def test_every_key_in_exactly_one_workload(self):
        r = check(run.HERE)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("each in exactly one workload", r.stdout)

    def test_check_rejects_missing_and_duplicate_keys(self):
        lines = open(os.path.join(run.HERE, "workloads.tsv")).read().splitlines(True)
        body = [i for i, l in enumerate(lines) if l.strip() and not l.startswith("#")][1:]
        d = os.path.join(run.OUT, "test-bench")
        for name, edit in (("missing", lambda ls: ls[:body[0]] + ls[body[0] + 1:]),
                           ("twice", lambda ls: ls + [ls[body[0]]])):
            os.makedirs(d, exist_ok=True)
            shutil.copy(os.path.join(run.HERE, "digests.tsv"), d)
            with open(os.path.join(d, "workloads.tsv"), "w") as f:
                f.writelines(edit(lines))
            r = check(d)
            self.assertNotEqual(r.returncode, 0, name)
            self.assertIn("workload membership broken", r.stderr, name)
        shutil.rmtree(d)


class CheckSliceTest(unittest.TestCase):
    def test_slices_partition_the_untimed_keys(self):
        for w in run.WORKLOADS:
            untimed = sorted(m["key"] for m in run.members()
                             if m["workload"] == w and m["timed"] == "0")
            slices = run.check_slices(w)
            self.assertEqual(sorted(k for s in slices for k in s), untimed, w)
            self.assertTrue(all(slices), w)
            seen = {k for seed in range(len(slices)) for k in run.check_keys(w, seed)}
            self.assertEqual(sorted(seen), untimed, w)


if __name__ == "__main__":
    unittest.main()
