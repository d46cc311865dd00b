"""Smoke test of the benchmark at tiny scale (about 3 minutes on 4 CPUs).

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

Checks that every metric BENCHMARK.json names comes out with its unit, that
a deliberately wrong expected answer makes the output check fail, and that
the command refuses to run, printing no result, where the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import OUT, REPO  # noqa: E402
from perfbench.run import load_spec, result_line  # noqa: E402

SEED = 7


def _assert_metrics(tc: unittest.TestCase, line: dict, section: list) -> None:
    tc.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
    tc.assertGreaterEqual(line["attempted"], 1)
    for m in section:
        tc.assertIn(m["name"], line["metrics"])
        tc.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        tc.assertIsInstance(line["metrics"][m["name"]]["value"], float)


class SmokeTest(unittest.TestCase):
    spec = load_spec()

    def _check_both(self, res: dict) -> None:
        shutil.rmtree(res["workdir"], ignore_errors=True)
        self.assertEqual(res["failed"], 0, res["errors"])
        e2e = result_line(self.spec, res, trace=False)
        self.assertTrue(e2e["correct"])
        _assert_metrics(self, e2e, self.spec["end_to_end"])
        for m in self.spec["end_to_end"]:
            self.assertGreater(e2e["metrics"][m["name"]]["value"], 0.0, m["name"])
        _assert_metrics(self, result_line(self.spec, res, trace=True), self.spec["per_layer"])

    def test_serve_traced_reports_every_metric(self):
        from perfbench import serve

        res = serve.run(SEED, 2.0, trace=True, points=2_000)
        self._check_both(res)
        self.assertGreater(res["layers"]["spark.jobs_per_op"], 0.0)
        self.assertGreater(res["layers"]["server.queue_ms"], 0.0)

    def test_ingest_traced_reports_every_metric(self):
        from perfbench import ingest

        res = ingest.run(SEED, 2.0, trace=True, per_stream=50)
        self._check_both(res)
        self.assertGreater(res["layers"]["streaming.add_batch_ms"], 0.0)

    def test_wrong_expected_answer_fails_the_check(self):
        from perfbench import serve
        from perfbench.gen import ServeData

        wrong = ServeData(SEED + 1, n=2_000)

        def expect_wrong(_data, kind, k, req, body):
            return serve.check(wrong, kind, k, req, body)

        res = serve.run(SEED, 1.0, trace=False, points=2_000, expect=expect_wrong)
        shutil.rmtree(res["workdir"], ignore_errors=True)
        line = result_line(self.spec, res, trace=False)
        self.assertFalse(line["correct"])
        self.assertGreater(line["failed"], 0)

    def test_oracle_canon_detects_a_changed_value(self):
        import pandas as pd

        from perfbench.analytics import canon

        a = pd.DataFrame({"t": [1, 2], "v": [0.1 + 0.2, 3.0]})
        b = pd.DataFrame({"v": [3.0, 0.3], "t": [2, 1]})
        self.assertEqual(canon(a), canon(b))
        self.assertNotEqual(canon(a), canon(b.assign(v=[3.0, 0.31])))

    def test_refuses_to_run_without_the_engine(self):
        # An explicit parent: an in-process workload above re-pointed TMPDIR
        # at its own, since removed, scratch directory.
        os.makedirs(OUT, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=OUT) as d:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(REPO, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=170,
            )
        self.assertNotEqual(p.returncode, 0)
        for line in p.stdout.splitlines():
            with self.assertRaises(json.JSONDecodeError):
                json.loads(line)


if __name__ == "__main__":
    unittest.main(verbosity=2)
