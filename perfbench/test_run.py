"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end tests start the real benchmark with a failure injected
into one op and take about a minute each; they run only with
PERFBENCH_E2E=1.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ingest_model  # noqa: E402
import run  # noqa: E402


def op(i, t, ok=True, error=None, rows=10):
    return {"i": i, "op": "q", "ok": ok, "error": error, "t_s": t,
            "rows_in": rows, "rows_out": rows, "layers": {}}


class ScoreTest(unittest.TestCase):
    res = {"setup_s": [3.0, 2.0, 2.5], "peak_rss_mb": 900.0}

    def test_clean_run_is_correct(self):
        res = dict(self.res, ops=[op(0, 1.0), op(1, 3.0)])
        summary, problems = run.score(res, [], 0, "iterative_loops")
        self.assertTrue(summary["correct"])
        self.assertEqual((summary["attempted"], summary["failed"]), (2, 0))
        m = summary["metrics"]
        self.assertEqual(m["ops_per_s"]["value"], 0.5)
        self.assertEqual(m["setup_s"]["value"], 2.5)
        self.assertEqual(set(m), {name for name, _ in run.END_TO_END})

    def test_throwing_op_fails_and_gets_no_time(self):
        res = dict(self.res, ops=[op(0, 1.0), op(1, 50.0, ok=False, error="boom"), op(2, 1.0)])
        summary, problems = run.score(res, [], 0, "iterative_loops")
        self.assertFalse(summary["correct"])
        self.assertEqual(summary["failed"], 1)
        self.assertEqual(summary["metrics"]["op_p50_s"]["value"], 1.0)
        self.assertEqual(summary["metrics"]["ops_per_s"]["value"], 1.0)
        self.assertTrue(any("boom" in p for p in problems))

    def test_wrong_result_marks_the_op_failed(self):
        res = dict(self.res, ops=[dict(op(0, 1.0), digest="1:ab"),
                                  dict(op(1, 1.0), digest="1:ff")],
                   warmup=[dict(op(-1, 1.0), digest="1:ab", rep=1)])
        problems = run.mark_query_ops(res, {"q": None})
        self.assertEqual(problems, [])
        summary, _ = run.score(res, problems, 0, "iterative_loops")
        self.assertEqual(summary["failed"], 1)
        self.assertFalse(summary["correct"])

    def test_oracle_mismatch_fails_every_op_of_that_query(self):
        res = dict(self.res, ops=[dict(op(0, 1.0), digest="1:ab")],
                   warmup=[dict(op(-1, 1.0), digest="1:ab", rep=1)])
        problems = run.mark_query_ops(res, {"q": "rows 1 != 2"})
        summary, _ = run.score(res, problems, 0, "iterative_loops")
        self.assertEqual(summary["failed"], 1)
        self.assertFalse(summary["correct"])

    def test_check_problem_alone_makes_the_run_incorrect(self):
        res = dict(self.res, ops=[op(0, 1.0)])
        summary, _ = run.score(res, ["q: value mismatch"], 0, "iterative_loops")
        self.assertFalse(summary["correct"])
        self.assertEqual(summary["failed"], 0)

    def test_traced_run_reports_the_cold_setup_and_the_tail(self):
        layers = {"wall_s": 1.0, "scheduler.driver_gap_s": 0.5, "sources.merge_s": 0.0}
        res = dict(self.res, ops=[dict(op(i, float(i + 1)), layers=layers) for i in range(4)])
        summary, _ = run.score(res, [], 1, "iterative_loops")
        m = summary["metrics"]
        self.assertEqual(m["setup.cold_s"]["value"], 3.0)
        self.assertEqual(m["op_tail_s"]["value"], 3.0)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.pct(xs, 75), 75)
        self.assertEqual(run.pct(xs, 100), 100)
        self.assertEqual(run.pct([5.0], 75), 5.0)


class IngestModelTest(unittest.TestCase):
    def test_same_seed_same_batches(self):
        a = list(ingest_model.batches(7, 3))
        b = list(ingest_model.batches(7, 3))
        self.assertEqual(a, b)
        self.assertNotEqual(a, list(ingest_model.batches(8, 3)))

    def test_batches_grow_the_store_by_new_documents(self):
        views, view, log = ingest_model.predict(3, 4)
        full = ingest_model.LOCS * ingest_model.KEYS_PER_LOC
        new = ingest_model.SCRAPED_PER_BATCH * ingest_model.NEW_PER_SCRAPE
        self.assertEqual(views[0][0], full)
        self.assertEqual(views[4][0], full + 4 * new)
        self.assertEqual(len(view), views[4][0])

    def test_log_rows_come_from_scraped_locations(self):
        _, _, log = ingest_model.predict(5, 6)
        self.assertTrue(log)
        for r in log:
            locs = {ingest_model.code(x) for x in ingest_model.scraped(5, r["BATCH"])}
            self.assertIn(r["LOC_ID"], locs)
            self.assertGreater(r["DATA_AMT"], 0)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class InjectedFailureTest(unittest.TestCase):
    def bench(self, *extra):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", "iterative_loops", "--seed", "1",
                            "--seconds", "4", "--trace", "0", *extra],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True,
                           timeout=900)
        return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])

    def test_clean_run_passes(self):
        code, line = self.bench()
        self.assertEqual((code, line["correct"], line["failed"]), (0, True, 0))

    def test_throwing_op_turns_it_red(self):
        code, line = self.bench("--inject", "throw")
        self.assertNotEqual(code, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)

    def test_wrong_result_turns_it_red(self):
        code, line = self.bench("--inject", "wrong")
        self.assertNotEqual(code, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)


if __name__ == "__main__":
    unittest.main()
