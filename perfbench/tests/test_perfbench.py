"""Self-tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

BENCH_BUILD = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build")


class PercentileRule(unittest.TestCase):
    def test_p50_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_highest_allowed_percentile(self):
        self.assertEqual(stats.highest_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.highest_percentile(list(range(1, 1001)))[0], 99)
        self.assertEqual(stats.highest_percentile([1.0] * 5), (None, None))


def span(i, parent, start, end, name="task"):
    return {"id": i, "parent": parent, "trace": "p1:q", "name": name,
            "start_us": start, "end_us": end, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        parent = span(1, 0, 0, 100, "exec")
        kids = [span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 70, 80),
                span(5, 1, 75, 78), span(6, 1, 90, 120)]
        # covered: [10,50] + [70,80] + [90,100] = 60 of 100
        self.assertEqual(spans.self_time_us(parent, kids), 40)

    def test_no_children(self):
        self.assertEqual(spans.self_time_us(span(1, 0, 5, 9), []), 4)

    def test_driver_self_time_counts_task_gaps(self):
        tree = [span(1, 0, 0, 100, "exec"), span(2, 1, 10, 90, "job"),
                span(3, 2, 10, 90, "stage"), span(4, 3, 20, 40), span(5, 3, 30, 60)]
        rec = {"wall_s": 1.0, "queries": []}
        m = spans.pass_metrics(tree, rec, [], cores=4)
        self.assertAlmostEqual(m["exec.driver_self_s"], 60 / 1e6)
        self.assertEqual((m["exec.jobs"], m["exec.stages"], m["exec.tasks"]), (1, 1, 2))


def run_record(digests, oracle):
    return {"passes": [{"index": i, "queries": [
        {"name": "q_a", "ok": True, "digest": d}]} for i, d in enumerate(digests)],
        "oracle": oracle}


class FailureAccounting(unittest.TestCase):
    def test_digest_mismatch_between_passes_fails(self):
        rec = run_record(["1:2:3", "1:2:3", "1:9:3"], {})
        attempted, failed, problems, _ = report.account([rec], {}, {}, {})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("digest", problems[0])

    def test_mismatch_with_an_earlier_run_of_the_seed_fails(self):
        rec = run_record(["1:2:3", "1:2:3"], {})
        _, failed, _, _ = report.account([rec], {"q_a": "1:2:4"}, {}, {})
        self.assertEqual(failed, 2)

    def test_oracle_mismatch_and_error_fail(self):
        sqls = {"q_a": "SELECT 1"}
        ok = run_record(["1:2:3"], {"q_a": {"digest": "1:2:3"}})
        self.assertEqual(report.account([ok], {}, sqls, {})[:2], (2, 0))
        bad = run_record(["1:2:3"], {"q_a": {"digest": "1:2:4"}})
        self.assertEqual(report.account([bad], {}, sqls, {})[:2], (2, 1))
        self.assertEqual(report.account([ok], {}, sqls, {"q_a": "boom"})[:2], (2, 1))

    def test_mismatch_between_measuring_jvms_fails(self):
        first, second = run_record(["1:2:3"], {}), run_record(["1:9:3"], {})
        self.assertEqual(report.account([first, second], {}, {}, {})[:2], (2, 1))

    def test_exception_fails(self):
        rec = {"passes": [{"index": 0, "queries": [
            {"name": "q_a", "ok": False, "error": "boom"}]}], "oracle": {}}
        self.assertEqual(report.account([rec], {}, {}, {})[:2], (1, 1))


class EndToEnd(unittest.TestCase):
    def test_medians_pool_the_measuring_jvms(self):
        def jvm(cold, steady, heap):
            return {"heap_mb": heap, "passes": [{"kind": "cold", "wall_s": cold}]
                    + [{"kind": "steady", "wall_s": w} for w in steady]}
        m = report.end_to_end([jvm(10, [4, 2], 80), jvm(12, [3, 5], 90)],
                              [4, 5, 6], 700)
        self.assertEqual(m, {"setup_s": 5, "cold_pass_s": 11,
                             "rows_per_s": 200, "retained_heap_mb": 85})


class JvmDeadline(unittest.TestCase):
    def test_a_process_past_the_deadline_is_killed(self):
        os.makedirs(BENCH_BUILD, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=BENCH_BUILD) as d:
            t0 = time.perf_counter()
            with self.assertRaises(SystemExit) as e:
                run.launch(["sleep", "30"], dict(os.environ),
                           os.path.join(d, "log"), t0 + 0.5)
            self.assertEqual(e.exception.code, 2)
            self.assertLess(time.perf_counter() - t0, 10)


def tiny_fixture(d):
    """A small source fixture with the ten tables' schemas."""
    con = duckdb.connect()
    tables = {
        "region": "SELECT i::INT r_regionkey, 'R' || i r_name FROM range(5) t(i)",
        "nation": "SELECT i::INT n_nationkey, 'N' || i n_name, (i % 5)::INT n_regionkey "
                  "FROM range(25) t(i)",
        "customer": "SELECT i c_custkey, 'C' || i c_name, (i % 25)::INT c_nationkey, "
                    "i * 1.5 c_acctbal, 'S' c_mktsegment FROM range(1, 30) t(i)",
        "supplier": "SELECT i s_suppkey, 'Supplier#' || i s_name, (i % 25)::INT "
                    "s_nationkey, i * 2.0 s_acctbal FROM range(1, 10) t(i)",
        "part": "SELECT i p_partkey, 'P' || i p_name, 'B' p_brand, 'T' p_type, "
                "(i % 50)::INT p_size, i * 3.0 p_retailprice FROM range(1, 40) t(i)",
        "orders": "SELECT i o_orderkey, i % 29 + 1 o_custkey, 'O' o_orderstatus, "
                  "i * 10.0 o_totalprice, TIMESTAMP '2020-01-01' + INTERVAL (i) DAY "
                  "o_orderdate, '1-URGENT' o_orderpriority FROM range(1, 60) t(i)",
        "lineitem": "SELECT o l_orderkey, o % 39 + 1 l_partkey, o % 9 + 1 l_suppkey, "
                    "n::INT l_linenumber, 1.0 l_quantity, 2.0 l_extendedprice, "
                    "0.1 l_discount, 0.0 l_tax, 'R' l_returnflag, 'O' l_linestatus, "
                    "TIMESTAMP '2020-02-01' l_shipdate "
                    "FROM range(1, 60) a(o), range(1, 4) b(n)",
        "events": "SELECT i event_id, TIMESTAMP '2024-01-01' + INTERVAL (i) MINUTE ts, "
                  "i % 7 user_id, 'view' event_type, i * 0.5 AS \"value\", '{}' props "
                  "FROM range(100) t(i)",
        "documents": "SELECT i AS doc_id, 'w' || i || ' alpha beta gamma delta' AS text, "
                     "'en' AS lang, 'web' AS source, 25 AS n_chars FROM range(50) t(i)",
        "embeddings": "SELECT i AS vec_id, [i::FLOAT, 1.0, 2.0, 3.0]::FLOAT[] AS embedding, "
                      "(i % 3)::INT AS label FROM range(40) t(i)",
    }
    for t, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{d}/{t}.parquet' "
                    "(FORMAT PARQUET)")
    con.close()


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        os.makedirs(BENCH_BUILD, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=BENCH_BUILD)
        self.src = os.path.join(self.tmp.name, "src")
        os.makedirs(self.src)
        tiny_fixture(self.src)

    def tearDown(self):
        self.tmp.cleanup()

    def out(self, name, seed):
        d = os.path.join(self.tmp.name, name)
        gen.generate(self.src, d, 2, seed, 20)
        return d

    def rows(self, d, t):
        return duckdb.sql(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]

    def test_same_seed_gives_identical_bytes(self):
        a, b = self.out("a", 7), self.out("b", 7)
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet",
                                        shallow=False), t)

    def test_other_seed_keeps_counts_changes_content(self):
        a, c = self.out("a", 7), self.out("c", 8)
        for t in gen.TABLES:
            self.assertEqual(self.rows(a, t), self.rows(c, t), t)
            self.assertFalse(filecmp.cmp(f"{a}/{t}.parquet", f"{c}/{t}.parquet",
                                         shallow=False), t)
        texts = "SELECT list(text ORDER BY doc_id) FROM '{}/documents.parquet'"
        self.assertNotEqual(duckdb.sql(texts.format(a)).fetchone(),
                            duckdb.sql(texts.format(c)).fetchone())


if __name__ == "__main__":
    unittest.main()
