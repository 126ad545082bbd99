#!/usr/bin/env python3
"""The benchmark's own tests. They drive run.py on the benchmark's sf0.1
inputs with short query lists and one-second windows, so the whole file
runs in a few minutes:

    python3 -m unittest e2ebench/test_bench.py -v
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seconds", "1", "--seed", "5", *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-1]) if p.returncode == 0 and lines else None)


def last(workload, trace):
    with open(os.path.join(WORK, f"last-{workload}-trace{trace}.json")) as fh:
        return json.load(fh)


class TracedBatchRun(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.proc, cls.line = run("--workload", "bi_core", "--trace", "1",
                                 "--queries", "q1,q4,q8")
        cls.res = last("bi_core", 1)

    def test_run_is_correct(self):
        self.assertEqual(self.proc.returncode, 0, self.proc.stderr[-2000:])
        self.assertTrue(self.line["correct"], self.res["failures"])
        self.assertEqual(self.line["failed"], 0)

    def test_phases_fit_in_wall_and_counters_are_nonzero(self):
        samples = self.res["detail"]["traced_samples"]
        self.assertEqual({s["query"].split("_")[0] for s in samples}, {"q1", "q4", "q8"})
        for s in samples:
            self.assertLessEqual(s["construct_s"] + s["plan_s"] + s["execute_s"], s["wall_s"], s)
            for k in ("construct_s", "plan_s", "execute_s", "jobs", "stages", "tasks",
                      "task_busy_s"):
                self.assertGreater(s[k], 0, f"{k} of {s['query']}")

    def test_spans_nest(self):
        spans = {s["id"]: s for s in self.res["spans"]}
        self.assertTrue(any(s["name"] == "query" for s in spans.values()))
        for s in spans.values():
            if s["parent"] >= 0:
                p = spans[s["parent"]]
                self.assertLessEqual(p["start_ns"], s["start_ns"], (p, s))
                self.assertLessEqual(s["end_ns"], p["end_ns"], (p, s))
        names = {(spans[s["parent"]]["name"], s["name"])
                 for s in spans.values() if s["parent"] >= 0}
        self.assertEqual(names, {("query", "construct"), ("query", "plan"),
                                 ("query", "execute")})

    def test_per_layer_line_is_complete(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(set(self.line["metrics"]), {m["name"] for m in spec["per_layer"]})


class FailureHandling(unittest.TestCase):
    def test_unknown_query_name_fails_loudly(self):
        p, line = run("--workload", "bi_core", "--trace", "0", "--queries", "q1,q999x")
        self.assertNotEqual(p.returncode, 0)
        self.assertIsNone(line)
        self.assertIn("unknown query name: q999x", p.stderr)

    def test_failing_query_counts_and_is_never_timed(self):
        p, line = run("--workload", "bi_core", "--trace", "0", "--queries", "q1,q4",
                      "--fail-query", "q4")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = last("bi_core", 0)
        self.assertFalse(line["correct"])
        self.assertGreater(line["failed"], 0)
        self.assertGreater(line["failed"] / line["attempted"], 0)
        self.assertTrue(any("q4" in f for f in res["failures"]))
        walls = res["detail"]["median_wall_s"]
        self.assertEqual([q.split("_")[0] for q in walls], ["q1"])
        # the total is q1's time alone: the failed query adds no time
        self.assertAlmostEqual(line["metrics"]["query_total_s"]["value"],
                               walls["q1_rollup_measures"])


class IngestRun(unittest.TestCase):
    def test_traced_ingest_reports_state_and_commit_shape(self):
        p, line = run("--workload", "ingest_serve", "--trace", "1", "--seconds", "8")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(line["correct"], last("ingest_serve", 1)["failures"])
        m = {k: v["value"] for k, v in line["metrics"].items()}
        for k in ("state_rows_per_key", "jobs_per_trigger", "files_rewritten_per_commit",
                  "write_amp", "probe_read_ms", "probe_jobs"):
            self.assertGreater(m[k], 0, k)


if __name__ == "__main__":
    unittest.main()
