#!/usr/bin/env python3
"""The benchmark's own tests. Each harness run takes about a minute.

    python3 perfbench/test_bench.py
"""
import copy
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SEED = 7


class BenchTest(unittest.TestCase):
    runs = {}

    @classmethod
    def result(cls, workload: str, i: int) -> dict:
        """The i-th traced run of `workload` at SEED (cached per class)."""
        key = (workload, i)
        if key not in cls.runs:
            cls.runs[key] = run.run(workload, SEED, 1, trace=True)
        return cls.runs[key]

    def test_counts_repeat_across_runs(self):
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload):
                a, b = self.result(workload, 0), self.result(workload, 1)
                timed = {k: v for k, v in run.per_op_counts(a).items()
                         if k[1] > 0}
                self.assertTrue(timed)
                other = run.per_op_counts(b)
                for key, counts in timed.items():
                    self.assertEqual(counts, other[key], key)
                self.assertEqual(run.failed_reps(a, a["verdict"]), [])

    def test_planted_wrong_expected_result_fails_its_op(self):
        # The last report run: its dumps are still on disk.
        res = copy.deepcopy(self.result("report", 1))
        op = sorted(res["oracle"])[0]
        # The oracle's answer without its first row: a wrong expectation.
        res["oracle"] = {op: f"SELECT * FROM ({res['oracle'][op]}) OFFSET 1"}
        d = Path(res["dir"])
        verdict = run.check(res, d / "input", d / "dump", d / "tmp")
        self.assertIsNotNone(verdict[op])
        failed = run.failed_reps(res, verdict)
        self.assertEqual({r["op"] for r in failed}, {op})
        self.assertEqual(len(failed),
                         sum(1 for r in res["ops"] if r["op"] == op))


if __name__ == "__main__":
    unittest.main()
