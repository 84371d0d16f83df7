#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # all (one ~40 s JVM run)
    python3 perfbench/test_perfbench.py Unit       # pure-Python parts only

The end-to-end test plants one throwing op and one wrong-output op into
every pass of a short pu_core run and asserts that both read as failed,
with their errors, and that no timing or per-layer total includes them.
"""
import glob
import json
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


class Unit(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, pct, beyond = run.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))

    def test_op_p50_is_the_median_of_per_kind_means(self):
        ops = [{"name": n, "wall_s": w} for n, w in
               [("a", 1.0), ("a", 2.0), ("a", 6.0), ("b", 10.0), ("b", 12.0), ("c", 4.0)]]
        self.assertEqual(run.op_p50(ops), 4.0)
        ops[-1]["wall_s"] = 2.5
        self.assertEqual(run.op_p50(ops), 3.0)

    def test_fingerprint_ignores_row_order_and_int_width(self):
        import duckdb
        con = duckdb.connect()
        a = checks.fingerprint(con, "SELECT * FROM (VALUES (1::INT, 'x', 0.5), (2::INT, 'y', NULL)) t(a, b, c)")
        b = checks.fingerprint(con, "SELECT * FROM (VALUES (2::BIGINT, 'y', NULL), (1::BIGINT, 'x', 0.5)) t(a, b, c)")
        self.assertIsNone(checks.compare(a, b))
        c = checks.fingerprint(con, "SELECT * FROM (VALUES (1, 'x', 0.5), (2, 'z', NULL)) t(a, b, c)")
        self.assertIn("row hash", checks.compare(a, c))
        d = checks.fingerprint(con, "SELECT * FROM (VALUES (1, 'x', 0.5)) t(a, b, c)")
        self.assertIn("rows", checks.compare(a, d))


class PlantedFailures(unittest.TestCase):
    def test_planted_ops_read_as_failed_not_as_timings(self):
        seed = 9091
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "pu_core",
             "--seed", str(seed), "--seconds", "1", "--trace", "1", "--plant"],
            stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(proc.returncode, 0)
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertFalse(line["correct"])
        runs = sorted(glob.glob(os.path.join(HERE, "out", f"pu_core-s{seed}-t1-*")),
                      key=os.path.getmtime)
        with open(os.path.join(runs[-1], "result.json")) as f:
            res = json.load(f)
        timed = [o for o in res["ops"] if o["phase"] == "timed"]
        passes = {o["pass"] for o in timed}
        planted = [o for o in timed if o["name"].startswith("planted_")]
        self.assertEqual(len(planted), 2 * len(passes))
        self.assertTrue(all(o["status"] == "failed" for o in planted))
        throw = [o for o in planted if o["name"] == "planted_throw"]
        wrong = [o for o in planted if o["name"] == "planted_wrong"]
        self.assertTrue(all("planted failure" in o["error"] for o in throw))
        self.assertTrue(all("output check failed" in o["error"] for o in wrong))
        # every other op is healthy, and only planted ops count as failed
        self.assertEqual(line["failed"], len(planted))
        self.assertEqual(line["attempted"], len(timed))
        ok = [o for o in timed if o["status"] == "ok"]
        self.assertEqual(len(ok) + len(planted), len(timed))
        # timings and layer totals come from the healthy ops alone
        e2e = res["end_to_end"]
        kinds = {}
        for o in ok:
            kinds.setdefault(o["name"], []).append(o["wall_s"])
        self.assertAlmostEqual(e2e["op_p50_s"],
                               statistics.median(statistics.mean(v) for v in kinds.values()))
        per_pass = {}
        for o in ok:
            per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_s"]
        self.assertAlmostEqual(res["end_to_end_detail"]["wall_s"],
                               statistics.mean(per_pass.values()))
        traced = {}
        for o in ok:
            if o["traced"]:
                traced[o["pass"]] = traced.get(o["pass"], 0.0) + o["layers"]["scheduler.jobs"]
        self.assertEqual(line["metrics"]["scheduler.jobs"]["value"],
                         statistics.median(traced.values()))
        self.assertAlmostEqual(res["end_to_end_detail"]["fail_frac"], len(planted) / len(timed))


if __name__ == "__main__":
    unittest.main()
