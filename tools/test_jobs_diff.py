#!/usr/bin/env python3
"""Unit tests for tools/jobs_diff.py: python3 tools/test_jobs_diff.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jobs_diff  # noqa: E402

A = """[info] running (fork) graft.Probe jobs /data/sf0.01
query\tjobs\ttasks\twarm_s
ann_ivfpq\t13\t40\t0.512
kmeans_train\t3\t9\t0.100
pq_topk\t10\t30\t0.300
"""


class JobsDiffTest(unittest.TestCase):
    def write(self, text):
        f = tempfile.NamedTemporaryFile("w", suffix=".tsv", delete=False)
        f.write(text)
        f.close()
        self.addCleanup(os.unlink, f.name)
        return f.name

    def run_main(self, a_text, b_text):
        return jobs_diff.main(["jobs_diff.py", self.write(a_text), self.write(b_text)])

    def test_reads_rows_and_skips_header_and_log_lines(self):
        self.assertEqual(jobs_diff.read_counts(self.write(A)),
                         {"ann_ivfpq": (13, 40), "kmeans_train": (3, 9),
                          "pq_topk": (10, 30)})

    def test_identical_runs_pass_and_wall_time_is_ignored(self):
        self.assertEqual(self.run_main(A, A.replace("0.512", "9.999")), 0)

    def test_decrease_passes_and_is_reported(self):
        b = A.replace("ann_ivfpq\t13\t40", "ann_ivfpq\t9\t36")
        lines, failed = jobs_diff.diff(jobs_diff.read_counts(self.write(A)),
                                     jobs_diff.read_counts(self.write(b)))
        self.assertFalse(failed)
        self.assertIn("ann_ivfpq\tjobs 13 -> 9 (-4)\ttasks 40 -> 36 (-4)", lines)
        self.assertEqual(lines[-1], "total (3 queries)\tjobs 26 -> 22 (-4)\t"
                                    "tasks 79 -> 75 (-4)")
        self.assertEqual(self.run_main(A, b), 0)

    def test_job_increase_fails(self):
        self.assertEqual(self.run_main(A, A.replace("kmeans_train\t3", "kmeans_train\t4")), 1)

    def test_task_increase_fails_even_when_jobs_drop(self):
        b = A.replace("pq_topk\t10\t30", "pq_topk\t9\t31")
        self.assertEqual(self.run_main(A, b), 1)

    def test_a_query_missing_from_b_fails_and_one_only_in_b_is_listed(self):
        # the probe leaves out the row of a query that throws
        b = A.replace("pq_topk\t10\t30\t0.300\n", "") + "zipf_fit\t3\t4\t0.2\n"
        lines, failed = jobs_diff.diff(jobs_diff.read_counts(self.write(A)),
                                     jobs_diff.read_counts(self.write(b)))
        self.assertTrue(failed)
        self.assertIn("pq_topk\tonly in A", lines)
        self.assertIn("zipf_fit\tonly in B", lines)
        self.assertEqual(self.run_main(A, b), 1)

    def test_a_query_only_in_b_passes(self):
        self.assertEqual(self.run_main(A, A + "zipf_fit\t3\t4\t0.2\n"), 0)

    def test_input_without_rows_is_a_usage_error(self):
        self.assertEqual(self.run_main(A, "[info] nothing here\n"), 2)


if __name__ == "__main__":
    unittest.main()
