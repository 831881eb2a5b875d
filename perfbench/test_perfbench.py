"""Self-tests of the benchmark: input determinism, that every output check
rejects planted errors, and the statistics on synthetic data.

    python3 perfbench/test_perfbench.py
"""
import copy
import filecmp
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen_ads  # noqa: E402
import metrics  # noqa: E402


def _files(d):
    return sorted(p.relative_to(d) for p in Path(d).rglob("*") if p.is_file())


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen_ads.generate(7, a, 3, 900)
            gen_ads.generate(7, b, 3, 900)
            gen_ads.generate(8, c, 3, 900)
            self.assertEqual(_files(a), _files(b))
            for f in _files(a):
                self.assertTrue(filecmp.cmp(Path(a) / f, Path(b) / f, shallow=False), f)
            self.assertTrue(any(not filecmp.cmp(Path(a) / f, Path(c) / f, shallow=False)
                                for f in _files(a) if (Path(c) / f).exists()))

    def test_every_validation_class_is_planted(self):
        with tempfile.TemporaryDirectory() as t:
            e = gen_ads.generate(3, t, 4, 4000)
            self.assertTrue(all(n > 0 for n in e["quarantine"].values()), e["quarantine"])
            self.assertLess(e["curated"], e["valid"])  # the dedup passes drop rows
            self.assertEqual(e["report"], 10)

    def test_replay_follows_the_pipeline_rules(self):
        ad = lambda i, g, text, **kw: dict({
            "ad_archive_id": i, "is_active": True, "start_date": 1719000000, "end_date": None,
            "total_active_time": 3600, "collation_id": g, "collation_count": 1,
            "snapshot": {"display_format": "VIDEO", "body": {"text": text}}}, **kw)
        docs = [[[ad("1", "g1", "a"), ad("1", "g2", "b"),      # duplicate ad_id
                  ad("2", "g1", "c"),                          # duplicate group
                  ad("3", "g3", "a"),                          # duplicate text
                  ad("4", "g4", "d", end_date=1)]]]            # ends before it starts
        e = gen_ads.expected_outputs(docs)
        self.assertEqual(e["quarantine"]["end_before_start"], 1)
        self.assertEqual((e["valid"], e["curated"], e["report_ids"]), (4, 1, ["1"]))


class EtlCheckTest(unittest.TestCase):
    def setUp(self):
        self.expect = {"curated": 50, "report": 2, "report_ids": ["7", "9"],
                       "quarantine": {"missing:ad_id": 3, "end_before_start": 1}}
        self.run_ok = {"curated": 50, "report": 2, "report_ids": ["7", "9"],
                       "quarantine": {"missing:ad_id": 3, "end_before_start": 1}}

    def test_accepts_the_planted_outputs(self):
        self.assertEqual(checks.check_etl_run(self.run_ok, self.expect), [])

    def test_rejects_wrong_counts_and_rows(self):
        for mutate in (lambda r: r.update(curated=49),
                       lambda r: r["quarantine"].update({"missing:ad_id": 2}),
                       lambda r: r["quarantine"].update({"invalid_enum:display_format": 1}),
                       lambda r: r.update(report=1, report_ids=["7"]),
                       lambda r: r.update(report_ids=["9", "7"])):
            bad = copy.deepcopy(self.run_ok)
            mutate(bad)
            self.assertNotEqual(checks.check_etl_run(bad, self.expect), [], bad)


def _write(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.t = tempfile.TemporaryDirectory()
        t = self.t.name
        self.data, self.dumps = os.path.join(t, "data"), os.path.join(t, "dumps")
        os.makedirs(self.data)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT i AS l_partkey, CASE WHEN i % 3 = 0 THEN 'A' ELSE 'N' END "
                    f"AS l_returnflag FROM range(3000) t(i)) TO '{self.data}/lineitem.parquet' "
                    f"(FORMAT PARQUET)")
        self.sql = ("SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM lineitem "
                    "GROUP BY l_returnflag")
        self.con = con
        os.makedirs(self.dumps)
        Path(self.dumps, "oracle_sql.json").write_text(json.dumps({"q_flags": self.sql}))

    def tearDown(self):
        self.t.cleanup()

    def _dump(self, sql):
        self.con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM '{self.data}/lineitem.parquet'")
        _write(self.con, sql, f"{self.dumps}/q_flags")

    def test_accepts_the_oracle_result(self):
        self._dump(self.sql)
        self.assertEqual(checks.check_oracle(self.dumps, self.data, ["q_flags"]), {})

    def test_rejects_a_wrong_count_or_a_missing_row(self):
        self._dump(self.sql.replace("count(*)", "count(*) + 1"))
        self.assertIn("q_flags", checks.check_oracle(self.dumps, self.data, ["q_flags"]))
        self._dump(self.sql + " HAVING l_returnflag = 'A'")
        self.assertIn("q_flags", checks.check_oracle(self.dumps, self.data, ["q_flags"]))

    def test_approx_distinct_bound(self):
        exact = ("SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS approx_parts, "
                 "count(*) AS n FROM lineitem GROUP BY 1")
        self.con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM '{self.data}/lineitem.parquet'")
        dump = f"{self.dumps}/q_approx_distinct"
        for scale, rows, ok in (("1.05", "", True), ("1.2", "", False), ("1", " + 1", False)):
            _write(self.con, exact.replace("count(DISTINCT l_partkey)", f"count(DISTINCT l_partkey) * {scale}")
                   .replace("count(*) AS n", f"count(*){rows} AS n"), dump)
            self.assertEqual(checks.check_approx_distinct(self.dumps, self.data) == [], ok, (scale, rows))


class CurationCheckTest(unittest.TestCase):
    """Synthetic dumps that satisfy every invariant, then one planted
    violation at a time."""

    QUERIES = {
        "documents": "SELECT i AS doc_id FROM range(1, 9) t(i)",
        "embeddings": "SELECT i AS vec_id FROM range(1, 9) t(i)",
        "q_curate_verdict_lsh": (
            "SELECT i AS doc_id, i = 2 AS is_duplicate, false AS is_contaminated, true AS lang_ok, "
            "true AS quality_ok, true AS repetition_ok, i <> 2 AS keep, '' AS reason FROM range(1, 9) t(i)"),
        "q_pipeline_e2e_lsh": "SELECT 'train' AS split, 's' AS source, 7 AS n_docs, 600 AS n_tokens, 3 AS n_packs",
        "q_dedup_clusters_lsh": "SELECT * FROM (VALUES (1, 1, 2), (2, 1, 2), (5, 5, 3), (6, 5, 3), (7, 5, 3)) "
                                "t(doc_id, cluster_id, cluster_size)",
        "q_sim_ann_ivfpq": "SELECT q AS qid, (q + r) % 8 + 1 AS cid, r AS rn FROM range(1, 3) a(q), range(1, 4) b(r)",
    }
    PLANTS = {
        "q_curate_verdict_lsh": ("i <> 2 AS keep", "true AS keep"),
        "q_pipeline_e2e_lsh": ("3 AS n_packs", "4 AS n_packs"),
        "q_dedup_clusters_lsh": ("(7, 5, 3)", "(7, 6, 3)"),
        "q_sim_ann_ivfpq": ("r AS rn", "r + 1 AS rn"),
    }

    def _build(self, t, plant=None):
        con = duckdb.connect()
        data, dumps = os.path.join(t, "data"), os.path.join(t, "dumps")
        os.makedirs(data, exist_ok=True)
        for name, sql in self.QUERIES.items():
            if plant and plant[0] == name:
                sql = sql.replace(*plant[1])
            if name in ("documents", "embeddings"):
                con.execute(f"COPY ({sql}) TO '{data}/{name}.parquet' (FORMAT PARQUET)")
            else:
                _write(con, sql, f"{dumps}/{name}")
        return dumps, data

    def test_accepts_consistent_outputs(self):
        with tempfile.TemporaryDirectory() as t:
            self.assertEqual(checks.check_curation(*self._build(t)), {})

    def test_rejects_each_planted_violation(self):
        for name, swap in self.PLANTS.items():
            with tempfile.TemporaryDirectory() as t:
                bad = checks.check_curation(*self._build(t, (name, swap)))
                self.assertIn(name, bad, (name, bad))


class StatisticsTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.p90([float(i) for i in range(50)]))
        v = [float(i) for i in range(200)]
        got = metrics.p90(v)
        self.assertIsNotNone(got)
        self.assertGreaterEqual(sum(x > got for x in v), 10)
        self.assertAlmostEqual(got, 179.9, places=6)

    def test_span_self_time(self):
        spans = [
            {"id": 0, "parent": -1, "wall_s": 10.0, "name": "op:q"},
            {"id": 1, "parent": 0, "wall_s": 3.0, "name": "queries.build"},
            {"id": 2, "parent": 0, "wall_s": 4.0, "name": "queries.action"},
            {"id": 3, "parent": 2, "wall_s": 1.5, "name": "inner"},
            {"id": 4, "parent": -1, "wall_s": 2.0, "name": "op:r"},
        ]
        self.assertEqual(metrics.self_times(spans), {0: 3.0, 1: 3.0, 2: 2.5, 3: 1.5, 4: 2.0})
        self.assertEqual(sorted(metrics.subtree(spans, 0)), [0, 1, 2, 3])

    def test_job_union_and_driver_gap(self):
        # jobs [0,10] and [5,20] overlap, [30,40] is clipped to the window end 35
        self.assertEqual(metrics.union_ms([(5, 20), (0, 10), (30, 40)], 0, 35), 25)
        self.assertEqual(metrics.union_ms([], 0, 35), 0)

    def test_run_total_uses_per_op_medians(self):
        samples = [{"op": "a", "wall_s": w} for w in (1.0, 9.0, 2.0)] + [{"op": "b", "wall_s": 5.0}]
        self.assertEqual(metrics.run_total(samples, "wall_s"), 7.0)

    def test_scale_fit_recovers_a_line(self):
        fixed, per_krow = metrics.scale_fit(2.0 + 0.004 * 4000, 4000, 2.0 + 0.004 * 1000, 1000)
        self.assertAlmostEqual(fixed, 2.0)
        self.assertAlmostEqual(per_krow, 4000.0)  # 4 ms per row = 4000 ms per 1000 rows

    def test_heap_high_water(self):
        gcs = [100.0] * 40 + [300.0] * 9 + [900.0]  # one outlier collection
        self.assertAlmostEqual(metrics.heap_high_water(gcs, [900.0]), 300.0)
        self.assertEqual(metrics.heap_high_water([100.0, 200.0], [150.0, 250.0]), 250.0)

    def test_spread(self):
        self.assertAlmostEqual(metrics.spread([1.0] * 10), 0.0)
        self.assertGreater(metrics.spread([1.0, 2.0, 3.0, 4.0]), 0.5)


if __name__ == "__main__":
    unittest.main()
