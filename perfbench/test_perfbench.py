"""Tests of the benchmark itself, including its negative controls: a
corrupted result or a corrupted input row must trip the check and raise
the failed share. No JVM needed; the engine's outputs are stood in for by
the checks' own expected outputs.

Usage (from the repository root): python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import check  # noqa: E402
import diff  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

CFGS = json.load(open(os.path.join(HERE, "workloads.json")))
ORACLE = {"flags": "SELECT l_returnflag, l_linestatus, "
                   "CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS q "
                   "FROM lineitem GROUP BY 1, 2"}


def harness(names, **extra):
    ops = [{"name": n, "s": 0.1, "build_s": 0.0, "ok": True, "error": None}
           for n in names]
    return dict({"passes": [{"pass_s": 1.0, "ops": ops}]}, **extra)


def failed_frac(verdict):
    attempted, failed, _, _ = verdict
    return failed / attempted


class QueryChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.inputs = os.path.join(self.tmp.name, "inputs")
        self.results = os.path.join(self.tmp.name, "results")
        self.info = gen.generate("query_floor", {"replicas": 1}, 7,
                                 self.inputs)
        out = os.path.join(self.results, "flags.parquet")
        os.makedirs(out)
        con = check.tables_con(self.inputs)
        con.execute(f"COPY ({ORACLE['flags']}) TO "
                    f"'{out}/part-0.parquet' (FORMAT PARQUET)")
        self.cfg = {"ops": ["flags"]}
        self.h = harness(["flags"], oracles=ORACLE)

    def tearDown(self):
        self.tmp.cleanup()

    def verify(self):
        return run.verify("query_floor", self.cfg, self.info, self.h,
                          self.inputs, self.tmp.name)

    def test_matching_result_passes(self):
        self.assertEqual(self.verify()[1], 0)

    def test_corrupted_result_trips(self):
        f = os.path.join(self.results, "flags.parquet", "part-0.parquet")
        con = duckdb.connect()
        con.execute(f"COPY (SELECT l_returnflag, l_linestatus, "
                    f"n + CASE WHEN row_number() OVER (ORDER BY l_returnflag,"
                    f" l_linestatus) = 1 THEN 1 ELSE 0 END AS n, q "
                    f"FROM read_parquet('{f}')) TO '{f}.x' (FORMAT PARQUET)")
        os.replace(f + ".x", f)
        v = self.verify()
        self.assertEqual(v[1], 1)
        self.assertEqual(v[3][0][0], "flags")
        self.assertGreater(failed_frac(v), 0)

    def test_corrupted_input_row_trips(self):
        f = os.path.join(self.inputs, "lineitem.parquet")
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * REPLACE (CASE WHEN file_row_number = 0 "
                    f"THEN l_quantity + 1 ELSE l_quantity END AS l_quantity) "
                    f"FROM read_parquet('{f}', file_row_number = true)) "
                    f"TO '{f}.x' (FORMAT PARQUET)")
        con.execute(f"COPY (SELECT * EXCLUDE (file_row_number) FROM "
                    f"read_parquet('{f}.x')) TO '{f}' (FORMAT PARQUET)")
        v = self.verify()
        self.assertEqual(v[1], 1)
        self.assertGreater(failed_frac(v), 0)

    def test_decimal_on_the_wire_trips(self):
        f = os.path.join(self.results, "flags.parquet", "part-0.parquet")
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * REPLACE (CAST(n AS DECIMAL(18, 0)) AS n)"
                    f" FROM read_parquet('{f}')) TO '{f}.x' (FORMAT PARQUET)")
        os.replace(f + ".x", f)
        v = self.verify()
        self.assertEqual(v[1], 1)
        self.assertIn("decimal128", v[3][0][1])

    def test_failed_operation_counts(self):
        self.h["passes"][0]["ops"][0].update(ok=False, error="boom")
        v = self.verify()
        self.assertEqual((v[1], v[2]), (1, [("flags", "boom")]))


class MedallionChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.inputs = os.path.join(self.tmp.name, "inputs")
        self.cfg = dict(CFGS["medallion"], countries=8, indicators=10,
                        co2_rows_per_year=300)
        self.info = gen.generate("medallion", self.cfg, 3, self.inputs)
        t = self.info["truth"]
        serve = os.path.join(self.tmp.name, "serve")
        os.makedirs(serve)
        duckdb.connect().execute(
            f"COPY ({check.serve_topk_sql(self.landing('wdi/WDIData.csv'), t['years'], self.cfg['top_k'])}) "
            f"TO '{serve}/part-0.parquet' (FORMAT PARQUET)")
        v = t["versioned"]
        # what a correct engine reads back from its lake
        self.m = {"wdi_audit": t["wdi_audit"], "co2_audit": t["co2_audit"],
                  "asof_rows": {k: v["rows_at_version"][k] for k in ("1", "4")},
                  "count_fast": v["rows_at_version"]["5"],
                  "scan_rows": v["scan_rows"], "rejected_append_threw": True,
                  "history_rows": 9, "serve_path": serve}
        names = ["curate_wdi", "curate_co2", "serve_wdi", "vt_asof",
                 "vt_count_fast", "vt_scan_pruned", "vt_append_rejected",
                 "vt_history"]
        self.h = harness(names, medallion=self.m)

    def tearDown(self):
        self.tmp.cleanup()

    def landing(self, rel):
        return os.path.join(self.inputs, "landing", rel)

    def verify(self):
        return run.verify("medallion", self.cfg, self.info, self.h,
                          self.inputs, self.tmp.name)

    def test_injected_counts_are_exact(self):
        t = self.info["truth"]
        inj = t["injected"]
        audit = dict(t["wdi_audit"])
        self.assertEqual(audit["input"] - audit["validity_1"],
                         inj["wdi_bad_code"] + inj["wdi_spaced_code"]
                         + inj["wdi_duplicates"] + inj["wdi_all_null"])
        with open(self.landing("wdi/WDIData.csv")) as f:
            self.assertEqual(sum(1 for _ in f) - 1, audit["input"])

    def test_correct_readback_passes(self):
        self.assertEqual(self.verify()[1], 0)

    def test_wrong_audit_count_trips(self):
        self.m["wdi_audit"] = [list(x) for x in self.m["wdi_audit"]]
        self.m["wdi_audit"][-1][1] += 1  # one bad row survived curation
        v = self.verify()
        self.assertEqual([n for n, _ in v[3]], ["curate_wdi"])
        self.assertGreater(failed_frac(v), 0)

    def test_wrong_count_fast_trips(self):
        self.m["count_fast"] -= 1
        self.assertEqual([n for n, _ in self.verify()[3]], ["vt_count_fast"])

    def test_corrupted_serve_row_trips(self):
        f = os.path.join(self.m["serve_path"], "part-0.parquet")
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * REPLACE (avg_Indicator_Value + CASE WHEN "
                    f"file_row_number = 0 THEN 0.5 ELSE 0 END AS "
                    f"avg_Indicator_Value) FROM read_parquet('{f}', "
                    f"file_row_number = true)) TO '{f}.x' (FORMAT PARQUET)")
        con.execute(f"COPY (SELECT * EXCLUDE (file_row_number) FROM "
                    f"read_parquet('{f}.x')) TO '{f}' (FORMAT PARQUET)")
        os.remove(f + ".x")
        self.assertEqual([n for n, _ in self.verify()[3]], ["serve_wdi"])


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_order(self):
        with tempfile.TemporaryDirectory() as d:
            cfg = {"replicas": 2}
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.generate("rows_heavy", cfg, 1, a)
            gen.generate("rows_heavy", cfg, 1, b)
            gen.generate("rows_heavy", cfg, 2, c)

            def read(p):
                with open(os.path.join(p, "lineitem.parquet"), "rb") as f:
                    return f.read()
            self.assertEqual(read(a), read(b))
            self.assertNotEqual(read(a), read(c))
            con = duckdb.connect()
            n = con.execute(f"SELECT count(*), count(DISTINCT l_orderkey) "
                            f"FROM read_parquet('{a}/lineitem.parquet')"
                            ).fetchone()
            one = con.execute(
                f"SELECT count(*), count(DISTINCT l_orderkey) FROM "
                f"read_parquet('{gen.FIXTURE}/lineitem.parquet')").fetchone()
            self.assertEqual(n, (2 * one[0], 2 * one[1]))


class LayerDiff(unittest.TestCase):
    def test_names_the_layer_that_moved(self):
        a = {"per_layer": {"exec.jobs": 100.0, "queries.build_s": 5.0},
             "self_s": {"queries.build": 5.0, "queries.run": 3.0, "op:q1": 0.1}}
        b = {"per_layer": {"exec.jobs": 60.0, "queries.build_s": 3.0},
             "self_s": {"queries.build": 3.0, "queries.run": 3.1, "op:q1": 0.1}}
        _, verdict = diff.diff(a, b)
        self.assertIn("self time moved most in queries", verdict[0])
        self.assertIn("exec.jobs", verdict[1])


if __name__ == "__main__":
    unittest.main()
