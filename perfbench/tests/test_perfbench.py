"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v     (from the checkout root)

The last two test classes make traced benchmark runs (the first builds the
driver, then they take about three minutes together).
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build")
                                    if os.path.isdir(os.path.join(ROOT, ".bench_build")) else None)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, w + x) for x in "abc")
            gen.generate(w, 11, a)
            gen.generate(w, 11, b)
            gen.generate(w, 12, c)
            self.assertEqual(run.dir_digest(a), run.dir_digest(b), w)
            self.assertNotEqual(run.dir_digest(a), run.dir_digest(c), w)


class DigestCheckTest(unittest.TestCase):
    SQL = ("SELECT event_type, COUNT(*) AS n, "
           "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
           "FROM events GROUP BY event_type")

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        gen.generate("platform", 5, self.data)
        # the same report computed outside DuckDB, as the driver would emit it
        t = pq.read_table(os.path.join(self.data, "events.parquet")).to_pandas()
        g = t.groupby("event_type")
        con = duckdb.connect()
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
                    % os.path.join(self.data, "events.parquet"))
        # totals from the replica itself: the DECIMAL sum is exact, a pandas
        # float sum is not
        total = {r[0]: r[2] for r in con.execute(self.SQL).fetchall()}
        self.rows = [{"event_type": k, "n": int(len(v)), "total": total[k]} for k, v in g]

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def checker(self):
        return verify.Checker(self.data, {"r": self.SQL}, os.path.join(self.tmp, "duck"))

    def test_matching_report_passes_in_any_row_order(self):
        self.assertTrue(self.checker().pass_ok({"r": self.rows}))
        self.assertTrue(self.checker().pass_ok({"r": list(reversed(self.rows))}))

    def test_corrupted_report_fails(self):
        bad = [dict(r) for r in self.rows]
        bad[0]["n"] += 1
        c = self.checker()
        self.assertFalse(c.pass_ok({"r": bad}))
        self.assertEqual(c.mismatches[0]["report"], "r")
        self.assertFalse(self.checker().pass_ok({"r": self.rows[1:]}))

    def test_report_without_replica_must_repeat(self):
        c = verify.Checker(self.data, {"k": None}, os.path.join(self.tmp, "duck"))
        self.assertTrue(c.pass_ok({"k": self.rows}))
        self.assertTrue(c.pass_ok({"k": self.rows}))
        self.assertFalse(c.pass_ok({"k": self.rows[1:]}))


class SpikeGuardTest(unittest.TestCase):
    def test_pipe1_oracle_gets_the_position_guard(self):
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "QueriesPipeline.scala")) as f:
            src = f.read()
        start = src.index('"""', src.index('"pipe1_qaqc_e2e" ->\n      """'))
        sql = src[start + 3:src.index('"""', start + 3)]
        self.assertEqual(sql.count(verify._SPIKE_POT), 1)
        guarded = verify.replica(sql)
        self.assertEqual(guarded.count(verify._SPIKE_POT_GUARDED), 1)
        self.assertEqual(guarded.replace(verify._SPIKE_POT_GUARDED, verify._SPIKE_POT), sql)


def traced_run(workload: str, seed: int):
    """(result, record, trace) of one traced run."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=1100)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    record = json.loads(lines[-2])
    with open(os.path.join(ROOT, record["trace_file"])) as f:
        return json.loads(lines[-1]), record, json.load(f)


class AttributionTest(unittest.TestCase):
    """The calibration workload's two layers burn known CPU (4 rows x 0.5 s
    and 4 rows x 1 s); the traced run must put that cost on those layers and
    nothing of it on the scan or the report."""

    @classmethod
    def setUpClass(cls):
        cls.result, _, cls.trace = traced_run("calibration", 3)

    def test_known_costs_land_on_their_layers(self):
        self.assertTrue(self.result["correct"])
        spans = self.trace["self_spans"]
        for layer, cpu in (("calib.light", 2.0), ("calib.heavy", 4.0)):
            got = spans["calibration/" + layer]["cpu_s"]
            self.assertAlmostEqual(got, cpu, delta=0.15 * cpu + 0.1, msg=layer)
            # four cores run the four rows side by side; the difference of
            # two prefix walls carries their planning noise
            self.assertGreaterEqual(spans["calibration/" + layer]["wall_s"], cpu / 4 * 0.6, layer)
        for layer in ("scan", "report"):
            self.assertLess(abs(spans["calibration/" + layer]["cpu_s"]), 0.4, layer)


class TracedRunTest(unittest.TestCase):
    """One traced run of the curation workload (the one with a MinHash oracle)."""

    @classmethod
    def setUpClass(cls):
        cls.result, cls.record, cls.trace = traced_run("curation", 5)

    def test_result_is_correct_and_complete(self):
        self.assertTrue(self.result["correct"])
        self.assertEqual(self.result["failed"], 0)
        self.assertEqual(len(self.result["metrics"]), 124)

    def test_fixed_cost_share_is_reported(self):
        self.assertGreater(self.record["fixed_cost_s"], 0)
        self.assertLess(self.record["data_share"], 1)

    def test_layer_self_times_sum_to_traced_pass(self):
        # a consistency check of the sweep against separately timed passes:
        # self numbers telescope to the last prefix, so this catches a sweep
        # whose prefixes ran under other conditions than the passes, not a
        # misplaced layer boundary (AttributionTest covers that)
        total = sum(s["wall_s"] for s in self.trace["self_spans"].values())
        traced = statistics.median(self.trace["traced_pass_s"])
        self.assertLessEqual(abs(total - traced), verify.SELF_SUM_TOLERANCE * traced,
                             "self %.3f s vs traced pass %.3f s" % (total, traced))

    def test_accelerated_replica_equals_verbatim_oracle(self):
        tmp = tempfile.mkdtemp()
        try:
            gen.generate("curation", 9, tmp)
            small = pq.read_table(os.path.join(tmp, "documents.parquet")).slice(0, 150)
            pq.write_table(small, os.path.join(tmp, "documents.parquet"))
            con = duckdb.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(tmp, "documents.parquet"))
            sql = self.trace["oracles"]["pipe3_near_dedup"]
            fast = verify.accelerate(sql)
            self.assertNotEqual(fast, sql)
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            verbatim = verify.digest(cols, cur.fetchall())
            self.assertEqual(verbatim, verify.digest(cols, con.execute(fast).fetchall()))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
