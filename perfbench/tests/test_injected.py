"""End-to-end self-test of failure counting: runs the benchmark's JVM
loop on injected queries (see InjectedQueries.scala) and checks that a
throwing query and a wrong-result query both count in failed_frac.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build    # noqa: E402
import metrics  # noqa: E402
import run      # noqa: E402


class InjectedFailures(unittest.TestCase):
    def test_throwing_and_wrong_queries_count_as_failed(self):
        classes, _ = build.build()
        out = os.path.join(build.BUILD_DIR, "selftest-classes")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        try:
            subprocess.run(
                ["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(
                    [classes, os.path.join(build.spark_jars(), "*")]),
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
                 os.path.join(HERE, "InjectedQueries.scala")], check=True)
            wl = {"queries": ["good", "throws", "wrong"], "shared_builds": [],
                  "min_warm_sweeps": 1, "rows_only": []}
            raw = run.run_workload(classes, wl, seed=7, seconds=0, trace=1,
                                   timeout_s=170,
                                   main_class="graftbench.InjectedQueries",
                                   extra_cp=[out])
        finally:
            shutil.rmtree(out, ignore_errors=True)

        good = next(c for c in raw["check"] if c["name"] == "good")
        self.assertEqual(good["rows"], 10)
        reference = {q: {"rows": 10, "hash": good["hash"]}
                     for q in ("good", "throws", "wrong")}
        verdict = metrics.check_outputs(raw["check"], reference, set())
        self.assertIsNone(verdict["good"])
        self.assertIn("injected failure", verdict["throws"])
        self.assertIn("fingerprint 11:", verdict["wrong"])
        # a run with a minimum of one warm sweep and no measuring time
        # makes a cold and a warm sweep of 3 queries, then 3 checks: the
        # throwing query fails in both sweeps and its check, the wrong
        # one in its check only
        self.assertEqual(len(raw["sweeps"]), 2)
        self.assertEqual(metrics.operations(raw, verdict), (9, 4))
        # the traced sweeps recorded their spans and Spark work
        names = {s["name"] for s in raw["spans"]}
        self.assertTrue({"query", "builder", "execute", "job"} <= names)
        good = [q for s in raw["sweeps"] for q in s["queries"] if q["name"] == "good"]
        self.assertTrue(all(q["window"]["jobs"] >= 1 for q in good))


if __name__ == "__main__":
    unittest.main()
