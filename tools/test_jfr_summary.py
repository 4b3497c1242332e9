"""Self-test of tools/jfr_summary.py on a canned `jfr print --json` file.

Run from the repo root: python3 -m unittest tools/test_jfr_summary.py
"""
import contextlib
import io
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import jfr_summary  # noqa: E402

SAMPLE = os.path.join(HERE, "testdata", "jfr_print_small.json")


class JfrSummaryTest(unittest.TestCase):

    def report(self, *extra):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = jfr_summary.main([SAMPLE, *extra])
        self.assertEqual(code, 0)
        return [ln.split() for ln in buf.getvalue().splitlines()]

    def section(self, lines, title):
        """The rows under the header line `title`, up to the next header."""
        i = lines.index(title.split())
        rows = []
        for ln in lines[i + 1:]:
            if not ln[0][0].isdigit():
                break
            rows.append(ln)
        return rows

    def test_executor_frames_count_only_worker_threads(self):
        lines = self.report()
        self.assertIn("executor CPU samples: 3 of 4 execution samples".split(), lines)
        self.assertEqual(self.section(lines, "top self frames:"), [
            ["66.7%", "2", "graft.A.hot"],
            ["33.3%", "1", "graft.B.call"]])
        # a frame twice in one stack (recursion) counts once for that
        # sample; one lambda's frames merge whatever its hidden class's id
        self.assertEqual(self.section(lines, "top inclusive frames:"), [
            ["100.0%", "3", "org.apache.spark.executor.Executor$TaskRunner.run"],
            ["66.7%", "2", "graft.A.hot"],
            ["66.7%", "2", "graft.B.call"],
            ["66.7%", "2", "org.apache.spark.executor.Executor$TaskRunner$$Lambda.apply"],
            ["33.3%", "1", "graft.A.loop"]])

    def test_frame_regex_counts_executor_samples_once(self):
        # graft.A.loop is twice in one worker sample; graft.Driver.plan is
        # on the scheduler thread, which is not an executor
        lines = self.report("--frame", r"graft\.A\.loop|Driver")
        self.assertIn("executor samples with a frame matching "
                      r"graft\.A\.loop|Driver: 1 of 3 (33.3%)".split(), lines)
        lines = self.report("--frame", "GetJsonObjectEvaluator")
        self.assertIn("executor samples with a frame matching "
                      "GetJsonObjectEvaluator: 0 of 3 (0.0%)".split(), lines)
        # without --frame there is no such line
        self.assertFalse(any(ln[:2] == ["executor", "samples"]
                             for ln in self.report()))

    def test_thread_regex_picks_the_samples_summarized(self):
        # the scheduler thread's one sample, instead of the workers'
        lines = self.report("--thread", "^dag-scheduler", "--frame", "Driver")
        self.assertIn("thread ^dag-scheduler CPU samples: 1 of 4 execution "
                      "samples".split(), lines)
        self.assertIn("thread ^dag-scheduler samples with a frame matching "
                      "Driver: 1 of 1 (100.0%)".split(), lines)
        self.assertEqual(self.section(lines, "top self frames:"), [
            ["100.0%", "1", "graft.Driver.plan"]])
        # a regex, not a prefix: "main" has no execution sample here
        lines = self.report("--thread", "^main$")
        self.assertIn("thread ^main$ CPU samples: 0 of 4 execution "
                      "samples".split(), lines)
        self.assertEqual(self.section(lines, "top self frames:"), [])
        # the executor prefix stays the default
        self.assertIn("executor CPU samples: 3 of 4 execution samples".split(),
                      self.report())

    def test_process_starts_group_by_executable(self):
        lines = self.report()
        self.assertIn("process starts: 3".split(), lines)
        rows = self.section(lines, "process starts: 3")
        self.assertEqual([r[:2] for r in rows], [["2", "chmod"], ["1", "readlink"]])
        self.assertEqual(rows[0][3:], "chmod 0644 /tmp/out/bucket=1/part-0.parquet".split())

    def test_allocation_sites_by_sampled_weight(self):
        lines = self.report("--top", "1")
        self.assertIn("allocation samples: 2, 4.0 MiB sampled weight".split(), lines)
        self.assertEqual(self.section(lines, "top allocation sites:"), [
            ["75.0%", "3.0", "MiB", "java.nio.HeapByteBuffer.<init>", "<-",
             "java.nio.ByteBuffer.allocate"]])
        # --top bounds every table
        self.assertEqual(len(self.section(lines, "top self frames:")), 1)


if __name__ == "__main__":
    unittest.main()
