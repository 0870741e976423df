"""Tests of the benchmark's own machinery (no JVM needed).

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import os
import shutil
import unittest

import duckdb

import check
import gen
import run

TMP = os.path.join(run.WORK, "test")


def write_parquet(sql: str, out_dir: str) -> str:
    """Writes `sql`'s rows as a one-file parquet directory, like Spark does."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    duckdb.sql(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT parquet)")
    return out_dir


class PercentileRule(unittest.TestCase):
    def test_median_always_reported(self):
        self.assertEqual(run.percentile([3.0, 1.0, 2.0], 0.5), 2.0)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile([float(i) for i in range(99)], 0.9))
        self.assertIsNotNone(run.percentile([float(i) for i in range(100)], 0.9))
        self.assertIsNone(run.percentile([float(i) for i in range(999)], 0.99))
        self.assertIsNotNone(run.percentile([float(i) for i in range(1000)], 0.99))

    def test_empty_is_none(self):
        self.assertIsNone(run.percentile([], 0.5))


class WithData(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = os.path.join(TMP, "data")
        if not os.path.exists(os.path.join(cls.data, "events.parquet")):
            gen.tables(cls.data, seed=5, sf=0.001)

    def checker(self, name: str) -> check.Checker:
        cache = os.path.join(TMP, name)
        shutil.rmtree(cache, ignore_errors=True)
        return check.Checker(self.data, cache, threads=1)


class OracleCheck(WithData):
    SQL = "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand"

    def test_matching_output_passes(self):
        c = self.checker("cache-match")
        out = write_parquet(f"SELECT * FROM '{self.data}/part.parquet'", os.path.join(TMP, "part"))
        out = write_parquet(f"SELECT p_brand, count(*) AS n FROM '{out}/*.parquet' GROUP BY 1",
                            os.path.join(TMP, "ok"))
        self.assertEqual(c.oracle(self.SQL, out), "")

    def test_dropped_row_fails(self):
        c = self.checker("cache-drop")
        out = write_parquet(f"""SELECT p_brand, count(*) AS n FROM '{self.data}/part.parquet'
            GROUP BY 1 ORDER BY 1 OFFSET 1""", os.path.join(TMP, "dropped"))
        self.assertIn("rows", c.oracle(self.SQL, out))

    def test_changed_value_fails(self):
        c = self.checker("cache-value")
        out = write_parquet(f"""SELECT p_brand, count(*) + (p_brand = 'Brand#1')::INT AS n
            FROM '{self.data}/part.parquet' GROUP BY 1""", os.path.join(TMP, "changed"))
        self.assertEqual(c.oracle(self.SQL, out), "value digest differs")

    def test_cache_key_follows_sql_and_inputs(self):
        c = self.checker("cache-key")
        key = c.cache_key(self.SQL)
        self.assertEqual(key, c.cache_key(self.SQL))
        self.assertNotEqual(key, c.cache_key(self.SQL + " ORDER BY 1"))
        other = os.path.join(TMP, "data-other")
        shutil.rmtree(other, ignore_errors=True)
        shutil.copytree(self.data, other)
        duckdb.sql(f"COPY (SELECT * FROM '{self.data}/part.parquet' LIMIT 10) "
                   f"TO '{other}/part.parquet' (FORMAT parquet)")
        c2 = check.Checker(other, os.path.join(TMP, "cache-key"), threads=1)
        self.assertNotEqual(key, c2.cache_key(self.SQL))

    def test_cached_result_is_used_and_invalidated(self):
        c = self.checker("cache-use")
        good = c.expected(self.SQL)
        path = os.path.join(c.cache_dir, c.cache_key(self.SQL) + ".json")
        with open(path, "w") as fh:  # a stale entry under the same key is believed
            json.dump(dict(good, rows=-1), fh)
        self.assertEqual(c.expected(self.SQL)["rows"], -1)
        self.assertEqual(c.expected(self.SQL + " ").get("rows"), good["rows"])


class PropertyChecks(WithData):
    def test_upsert_state(self):
        c = self.checker("cache-upsert")
        days = ["2024-01-01", "2024-01-02"]
        want = f"""WITH d(i, day) AS (VALUES (0, DATE '2024-01-01'), (1, DATE '2024-01-02')),
            e AS (SELECT e.*, d.i FROM '{self.data}/events.parquet' e JOIN d
                    ON e.ts >= d.day AND e.ts < d.day + INTERVAL 1 DAY)
            SELECT user_id, event_id, ts, event_type, "value" FROM e
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY i DESC, event_id DESC) = 1"""
        ok = write_parquet(want, os.path.join(TMP, "upsert-ok"))
        self.assertEqual(c.upsert_state(ok, days), "")
        dup = write_parquet(f"SELECT * FROM ({want}) UNION ALL (SELECT * FROM ({want}) LIMIT 1)",
                            os.path.join(TMP, "upsert-dup"))
        self.assertNotEqual(c.upsert_state(dup, days), "")
        stale = write_parquet(want.replace("i DESC", "i ASC"), os.path.join(TMP, "upsert-stale"))
        self.assertNotEqual(c.upsert_state(stale, days), "")

    def test_daily_partition(self):
        c = self.checker("cache-daily")
        day_sql = f"""SELECT * FROM '{self.data}/events.parquet'
            WHERE ts >= DATE '2024-01-03' AND ts < DATE '2024-01-04'"""
        ok = write_parquet(day_sql, os.path.join(TMP, "daily-ok"))
        self.assertEqual(c.daily_partition(ok, "2024-01-03"), "")
        self.assertNotEqual(c.daily_partition(ok, "2024-01-04"), "")

    def test_pairs(self):
        c = self.checker("cache-pairs")
        ok = write_parquet("SELECT 1::BIGINT doc_a, 2::BIGINT doc_b, 0.5::DOUBLE est_sim",
                           os.path.join(TMP, "pairs-ok"))
        self.assertEqual(c._pairs_problems(ok, 64, 0.5), [])
        bad = write_parquet("""SELECT * FROM (VALUES (2::BIGINT, 1::BIGINT, 0.51::DOUBLE),
            (2, 1, 0.51)) t(doc_a, doc_b, est_sim)""", os.path.join(TMP, "pairs-bad"))
        self.assertEqual(len(c._pairs_problems(bad, 64, 0.5)), 3)


class FailureCounting(WithData):
    def test_thrown_and_wrong_outputs_both_fail_and_the_run_goes_on(self):
        c = self.checker("cache-count")
        sql = "SELECT count(*) AS n FROM region"
        good = write_parquet("SELECT 5::BIGINT AS n", os.path.join(TMP, "count-good"))
        wrong = write_parquet("SELECT 4::BIGINT AS n", os.path.join(TMP, "count-wrong"))
        res = {"oracle_sql": {"q_a": sql, "q_b": sql, "q_c": sql},
               "ops": [{"name": "q_a", "error": "java.lang.RuntimeException: boom", "out": ""},
                       {"name": "q_b", "error": "", "out": wrong},
                       {"name": "q_c", "error": "", "out": good}]}
        verdicts = run.check_ops(res, c)
        self.assertEqual(len(verdicts), 3)
        self.assertTrue(verdicts[0].startswith("threw"))
        self.assertEqual(verdicts[1], "value digest differs")
        self.assertEqual(verdicts[2], "")

    def test_any_failed_op_makes_the_run_incorrect(self):
        values = {m["name"]: 1.0 for m in run.SPEC["end_to_end"]}
        ok = run.result(["", ""], values, trace=0)
        self.assertEqual((ok["correct"], ok["attempted"], ok["failed"]), (True, 2, 0))
        bad = run.result(["", "threw java.lang.RuntimeException: boom", "value digest differs"],
                         values, trace=0)
        self.assertEqual((bad["correct"], bad["attempted"], bad["failed"]), (False, 3, 2))

    def test_unreadable_output_fails_its_op(self):
        c = self.checker("cache-missing")
        res = {"oracle_sql": {"q_a": "SELECT 1 AS x"},
               "ops": [{"name": "q_a", "error": "", "out": os.path.join(TMP, "nowhere")}]}
        self.assertTrue(run.check_ops(res, c)[0].startswith("check error"))


class Corpus(unittest.TestCase):
    def test_declared_make_up_holds(self):
        base = os.path.join(TMP, "corpus-base")
        if not os.path.exists(os.path.join(base, "documents.parquet")):
            gen.tables(base, seed=3, sf=0.002)
        out = os.path.join(TMP, "corpus")
        declared = gen.corpus(base, out, seed=3, n_docs=400, n_files=3)
        self.assertEqual(declared["exact"], 40)
        self.assertEqual(gen.check_corpus(out), [])

    def test_staged_dedup_check_needs_the_planted_copies(self):
        base = os.path.join(TMP, "corpus-base")
        if not os.path.exists(os.path.join(base, "documents.parquet")):
            gen.tables(base, seed=3, sf=0.002)
        out = os.path.join(TMP, "corpus-staged")
        gen.corpus(base, out, seed=3, n_docs=400, n_files=3)
        c = check.Checker(out, os.path.join(TMP, "cache-staged"), threads=1)
        empty = write_parquet("SELECT 1::BIGINT doc_a, 2::BIGINT doc_b, 1.0::DOUBLE est_sim LIMIT 0",
                              os.path.join(TMP, "staged-empty"))
        why = c.dedup_staged(empty)
        self.assertIn("no pairs", why)
        self.assertIn("planted copies with Jaccard >= 0.9 missing", why)

    def test_same_seed_same_bytes(self):
        a, b = os.path.join(TMP, "seed-a"), os.path.join(TMP, "seed-b")
        gen.tables(a, seed=9, sf=0.001)
        gen.tables(b, seed=9, sf=0.001)
        for t in gen.TABLES:
            self.assertEqual(check.file_digest(f"{a}/{t}.parquet"),
                             check.file_digest(f"{b}/{t}.parquet"), t)


class Spec(unittest.TestCase):
    def test_every_end_to_end_metric_is_computed(self):
        res = {"setup_cpu_s": 1.0, "passes_cpu": [2.0], "ops": [{"cpu_s": 0.5}], "heap_mb": 3.0}
        values = run.metrics_of(res, trace=0)
        self.assertEqual(sorted(values), sorted(m["name"] for m in run.SPEC["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
