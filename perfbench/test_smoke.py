#!/usr/bin/env python3
"""Tiny-scale smoke test of the benchmark: every workload, untraced and
traced, on tiny inputs. Checks that each run ends with a correct result
line that carries exactly the metrics BENCHMARK.json declares.

    python3 perfbench/test_smoke.py        # from the repository root
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace),
             "--scale", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return out.stdout.strip().splitlines(), json.loads(out.stdout.strip().splitlines()[-1])

    def check(self, workload, trace):
        lines, result = self.run_bench(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], "\n".join(lines))
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        declared = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return lines, result

    def test_crawl_steady(self):
        self.check("crawl_steady", 0)

    def test_crawl_steady_traced(self):
        lines, result = self.check("crawl_steady", 1)
        m = result["metrics"]
        for layer in ("scheduler.wall_s", "parse.wall_s", "seen.wall_s",
                      "store.commit_s", "spark.jobs_per_wave"):
            self.assertGreater(m[layer]["value"], 0, layer)
        self.assertGreater(m["scaling.efficiency"]["value"], 0)
        self.assertTrue(any(" scaling_efficiency " in x for x in lines))

    def test_analytics(self):
        self.check("analytics", 0)

    def test_analytics_traced(self):
        _, result = self.check("analytics", 1)
        self.assertGreater(result["metrics"]["query.q01_pricing_summary_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
