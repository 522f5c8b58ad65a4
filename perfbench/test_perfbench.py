"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # all, about seven minutes
    python3 perfbench/test_perfbench.py -k gen     # generator only, seconds

The end-to-end cases run the real benchmark (build, generate, JVM) with a
single measured unit.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

EXACT_COUNTS = ("store.rows_inserted", "store.rows_rotated", "store.rows_unchanged",
                "model.rows_hashed", "etl.rows_in", "mql.result_rows", "temporal.rows_out")


def bench(workload, seed, trace=0, inject="", seconds=1):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if inject:
        cmd += ["--inject", inject]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    raw_path = os.path.join(build.BUILD, "runs", f"{workload}-{seed}-t{trace}.json")
    with open(raw_path) as f:
        raw = json.load(f)
    return json.loads(lines[-2])["detail"], json.loads(lines[-1]), raw


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_gen_same_seed_gives_identical_files(self):
        for w in gen.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertTrue(differ, f"{w}: another seed should change the inputs")

    def test_gen_model_counts_add_up(self):
        exp = gen.generate("delta_sync", 3, os.path.join(self.tmp, "d"))
        for c in exp["cycles"]:
            self.assertEqual(c["inserted"] + c["rotated"] + c["unchanged"], c["incoming"])
            self.assertEqual(c["opened"], c["inserted"] + c["rotated"])
            self.assertEqual(c["closed"], c["rotated"])

    def test_gen_checksum_is_order_independent(self):
        rows = [(1, "a", None), (2, "b", 3.0)]
        self.assertEqual(gen.checksum(rows), gen.checksum(list(reversed(rows))))
        self.assertNotEqual(gen.checksum(rows), gen.checksum(rows[:1]))

    def test_tail_rule(self):
        self.assertEqual(run.tail(list(range(30))), (19, 100.0 * 19 / 29, 30))
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))
        # 12 samples: the 9th percentile would sit below the median
        self.assertEqual(run.tail(list(range(12))), (5.5, 50.0, 12))

    def test_kind_geomean_uses_every_kind(self):
        ops = [{"name": "a", "t": t} for t in (1.0, 2.0, 3.0)]
        ops += [{"name": "b", "t": 8.0}]
        self.assertAlmostEqual(run.kind_geomean(ops), 4.0)
        self.assertEqual(run.kind_geomean([]), 0.0)

    def test_scaled_follows_host_probe(self):
        ref = run.PROBE_REF_NS
        self.assertAlmostEqual(run.scaled(2.0, [ref, ref]), 2.0)
        # a host running at two thirds of the reference speed
        self.assertAlmostEqual(run.scaled(3.0, [1.5 * ref, 1.5 * ref]), 2.0)
        self.assertAlmostEqual(run.scaled(1.0, [ref, 3 * ref]), 0.5)

    def test_unit_rate_is_a_median_over_units(self):
        ops = [{"rep": 0, "unit": u, "t": t, "rows_in": 10}
               for u, t in ((0, 1.0), (0, 1.0), (1, 2.0), (2, 10.0))]
        # units read 10, 5 and 1 rows/s: one slow unit does not move it
        self.assertAlmostEqual(run.unit_rate(ops, lambda o: o["rows_in"]), 5.0)


class EndToEndTest(unittest.TestCase):
    def test_planted_wrong_result_is_caught(self):
        detail, result, _ = bench("warehouse_reads", 1, inject="wrong:count")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertGreater(detail["error_rate"], 0)
        self.assertTrue(any(e.startswith("count:") for e in detail["errors"]), detail["errors"])

    def test_throwing_op_counts_as_error_without_timing(self):
        detail, result, raw = bench("warehouse_reads", 1, inject="throw:point")
        self.assertFalse(result["correct"])
        self.assertGreater(detail["error_rate"], 0)
        failed = [o for o in raw["ops"] if o["name"] == "point"]
        self.assertTrue(failed)
        for o in failed:
            self.assertFalse(o["ok"])
            self.assertIsNone(o["wall_s"])
        timed = [o for o in raw["ops"]
                 if o["kind"] == "query" and o["phase"] == "window" and o["ok"]]
        self.assertEqual(result["attempted"] - result["failed"],
                         sum(1 for o in raw["ops"] if o["ok"]))
        self.assertTrue(all(o["name"] != "point" for o in timed))

    def test_exact_counts_repeat_with_one_seed(self):
        declared = benchmark_json()
        for w in gen.WORKLOADS:
            runs = [bench(w, 4, trace=1)[1] for _ in range(2)]
            for r in runs:
                self.assertTrue(r["correct"], w)
                if declared:
                    self.assertEqual(set(r["metrics"]), {m["name"] for m in declared["per_layer"]})
            first, second = ({k: r["metrics"][k]["value"] for k in EXACT_COUNTS} for r in runs)
            self.assertEqual(first, second, w)

    def test_untraced_run_reports_every_declared_metric(self):
        declared = benchmark_json()
        _, result, _ = bench("snapshot_ingest", 2)
        self.assertTrue(result["correct"])
        names = set(run.END_TO_END_UNITS)
        if declared:
            names = {m["name"] for m in declared["end_to_end"]}
            self.assertLessEqual({w["name"] for w in declared["workloads"]}, set(gen.WORKLOADS))
        self.assertEqual(set(result["metrics"]), names)
        for m in result["metrics"].values():
            self.assertGreater(m["value"], 0)


def benchmark_json():
    """The benchmark's declaration at the repository root, if present."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    unittest.main()
