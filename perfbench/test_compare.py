"""Tests for compare.py: python3 -m unittest discover -s perfbench"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402


def record(workload, nproc, job_s, trace=False):
    return {"workload": workload, "trace": trace, "stamp": {"nproc": nproc},
            "end_to_end": {"job_s": {"value": job_s, "unit": "s"}}}


class CompareTest(unittest.TestCase):

    def test_quartiles_match_statistics_quantiles(self):
        xs = [1.5, 2.5, 10.0, 4.0, 7.0, 3.0, 8.0, 9.0, 6.0, 5.0]
        self.assertEqual(compare.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        self.assertAlmostEqual(compare.spread(xs), (8.25 - 2.875) / 5.5)
        self.assertEqual(compare.quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_different_core_counts_are_refused(self):
        with self.assertRaises(SystemExit):
            compare.require_same_cores([record("a", 4, 1.0),
                                        record("a", 32, 1.0)])
        self.assertEqual(compare.require_same_cores([record("a", 4, 1.0)]), 4)

    def test_table_compares_untraced_medians_per_workload(self):
        base = [record("w", 4, v) for v in (1.0, 2.0, 3.0)]
        new = [record("w", 4, v) for v in (2.0, 4.0, 6.0)]
        new.append(record("w", 4, 100.0, trace=True))
        [(wl, m, unit, bm, _, nm, _, ratio)] = compare.table(base, new)
        self.assertEqual((wl, m, unit, bm, nm, ratio),
                         ("w", "job_s", "s", 2.0, 4.0, 2.0))


if __name__ == "__main__":
    unittest.main()
