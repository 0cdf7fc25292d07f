"""Tests of the benchmark command's result assembly, build cache and spread math.

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import io
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import spread  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = [m["name"] for m in SPEC["end_to_end"]]


def record(failures=()):
    values = {n: 1.5 for n in E2E if n != "ok_share"}
    return {"attempted": 40, "failures": list(failures), "end_to_end": values,
            "per_layer": {"operators.execute_s": 2.0, "jvm.jit_s": 3.0}}


class FinishTest(unittest.TestCase):
    def test_clean_run_reports_every_end_to_end_metric(self):
        result, failures, code = run.finish(SPEC, record(), 5, [], trace=False)
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), set(E2E))
        self.assertEqual(result["metrics"]["ok_share"]["value"], 1.0)
        self.assertEqual(result["attempted"], 45)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(list(result), ["correct", "attempted", "failed", "metrics"])

    def test_a_throwing_lane_fails_the_command(self):
        result, failures, code = run.finish(
            SPEC, record(["q5_local_supplier cold: java.lang.IllegalStateException: boom"]),
            0, [], trace=False)
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertAlmostEqual(result["metrics"]["ok_share"]["value"], 1 - 1 / 40)

    def test_the_harness_failed_count_is_used_when_given(self):
        rec = record(["3 calls ended in neither success nor DuplicateException"])
        rec["failed"] = 3
        result, _, code = run.finish(SPEC, rec, 0, [], trace=False)
        self.assertNotEqual(code, 0)
        self.assertEqual(result["failed"], 3)
        self.assertAlmostEqual(result["metrics"]["ok_share"]["value"], 1 - 3 / 40)

    def test_a_failed_output_check_fails_the_command(self):
        result, _, code = run.finish(SPEC, record(), 5, ["q1_pricing_summary: oracle mismatch"],
                                     trace=False)
        self.assertNotEqual(code, 0)
        self.assertEqual(result["failed"], 1)

    def test_a_missing_metric_is_not_a_correct_result(self):
        rec = record()
        del rec["end_to_end"]["warm_s"]
        result, _, code = run.finish(SPEC, rec, 0, [], trace=False)
        self.assertNotEqual(code, 0)

    def test_traced_run_reports_every_per_layer_metric(self):
        result, _, code = run.finish(SPEC, record(), 0, [], trace=True)
        self.assertEqual(code, 0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        self.assertEqual(result["metrics"]["operators.execute_s"]["value"], 2.0)
        self.assertEqual(result["metrics"]["provider.block_us"]["value"], 0.0)


class CommandTest(unittest.TestCase):
    def test_outside_a_checkout_the_command_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
                json.dump(SPEC, f)
            cwd = os.getcwd()
            out, err = io.StringIO(), io.StringIO()
            try:
                os.chdir(d)
                with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                    code = run.main(["--workload", "provider_redelivery", "--seed", "1",
                                     "--seconds", "1", "--trace", "0"])
            finally:
                os.chdir(cwd)
        self.assertNotEqual(code, 0)
        self.assertEqual(out.getvalue(), "")


class BuildCacheTest(unittest.TestCase):
    """A fake sbt that compiles src/main/A.scala into target/classes/A.class
    by copying it, so the class directory always holds the last build."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        for rel in ("build.sbt", "project/build.properties"):
            os.makedirs(os.path.dirname(os.path.join(self.root, rel)), exist_ok=True)
            with open(os.path.join(self.root, rel), "w") as f:
                f.write("x")
        os.makedirs(os.path.join(self.root, "src", "main"))
        self.jar = os.path.join(self.root, "..", "outside", "lib.jar")
        self.compiles = 0
        self.sbt_compile = run.sbt_compile
        run.sbt_compile = self.fake_compile

    def tearDown(self):
        run.sbt_compile = self.sbt_compile
        self.tmp.cleanup()

    def edit(self, text):
        with open(os.path.join(self.root, "src", "main", "A.scala"), "w") as f:
            f.write(text)

    def fake_compile(self):
        self.compiles += 1
        classes = os.path.join(self.root, "target", "classes")
        os.makedirs(classes, exist_ok=True)
        with open(os.path.join(self.root, "src", "main", "A.scala")) as src, \
                open(os.path.join(classes, "A.class"), "w") as out:
            out.write(src.read())
        return os.pathsep.join([classes, self.jar])

    def compiled(self, classpath):
        with open(os.path.join(classpath.split(os.pathsep)[0], "A.class")) as f:
            return f.read()

    def test_a_reverted_edit_runs_the_classes_built_from_the_reverted_sources(self):
        scratch = os.path.join(self.root, ".bench_build", "perfbench")
        self.edit("v1")
        cp1 = run.build(self.root, scratch)
        self.edit("v2")
        cp2 = run.build(self.root, scratch)
        self.edit("v1")
        cp3 = run.build(self.root, scratch)
        self.assertEqual(self.compiles, 2)
        self.assertEqual(cp3, cp1)
        self.assertEqual(self.compiled(cp1), "v1")
        self.assertEqual(self.compiled(cp2), "v2")
        # the shared class directory holds the last build, the cache does not use it
        self.assertEqual(self.compiled(os.path.join(self.root, "target", "classes")), "v2")
        self.assertTrue(cp1.startswith(os.path.join(scratch, "build")))
        self.assertEqual(cp1.split(os.pathsep)[1], self.jar)


class SpreadTest(unittest.TestCase):
    def test_spread_is_the_quartile_distance_over_the_median(self):
        vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.0]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med, s = spread.spread(vals)
        self.assertEqual(med, q2)
        self.assertAlmostEqual(s, (q3 - q1) / q2)
        self.assertEqual(spread.spread([2.0, 2.0, 2.0, 2.0]), (2.0, 0.0))

    def test_seed_ranges(self):
        self.assertEqual(spread.seeds("1-3,7"), [1, 2, 3, 7])


if __name__ == "__main__":
    unittest.main()
