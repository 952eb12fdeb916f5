"""Self-tests of the benchmark's output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The batch tests feed the real check a result that differs from the
oracle's by one dropped row, one duplicated row or one double moved by
1 ulp; each must fail it. The stream test runs the `stream` workload with
one event placed behind the watermark; the engine drops such an event
without a trace, so the check must fail. It needs a full checkout and
builds the benchmark if the build is stale.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

QUERY = "q100_ivf_pq_rerank"  # small, and its l2_dist column is DOUBLE


class BatchCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.stored = json.load(open(run.DIGESTS))["queries"][QUERY]
        con = run.duck_with_tables()
        rel = con.sql(cls.stored["oracle_sql"])
        cls.columns = list(rel.columns)
        cls.types = [str(t) for t in rel.types]
        cls.rows = [list(r) for r in rel.fetchall()]
        os.makedirs(run.WORK, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="test-", dir=run.WORK)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def check(self, rows, oracle_sql=None):
        """Write `rows` as one parquet result and run the batch check."""
        import duckdb
        out = tempfile.mkdtemp(dir=self.tmp)
        con = duckdb.connect()
        con.execute("CREATE TABLE r (" + ", ".join(
            f'"{c}" {t}' for c, t in zip(self.columns, self.types)) + ")")
        if rows:
            con.executemany("INSERT INTO r VALUES (" +
                            ", ".join("?" for _ in self.columns) + ")", rows)
        con.execute(f"COPY r TO '{out}/part-0.parquet' (FORMAT parquet)")
        return run.check_batch({
            "outputs": [{"query": QUERY, "round": 0, "path": out}],
            "oracle_sql": {QUERY: oracle_sql or self.stored["oracle_sql"]}})

    def test_oracle_result_passes(self):
        self.assertEqual(self.check(self.rows), [])

    def test_dropped_row_fails(self):
        self.assertNotEqual(self.check(self.rows[1:]), [])

    def test_duplicated_row_fails(self):
        self.assertNotEqual(self.check(self.rows + [self.rows[0]]), [])

    def test_one_ulp_fails(self):
        i = self.columns.index("l2_dist")
        rows = [list(r) for r in self.rows]
        rows[0][i] = math.nextafter(rows[0][i], math.inf)
        self.assertNotEqual(self.check(rows), [])

    def test_stale_digest_refuses(self):
        problems = self.check(self.rows, self.stored["oracle_sql"] + " ")
        self.assertEqual(len(problems), 1)
        self.assertIn("stale", problems[0])


class StreamCheck(unittest.TestCase):
    def test_event_behind_watermark_fails(self):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "stream", "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject-late"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"], "a dropped late event passed")
        self.assertIn("1 missing", r.stderr)


if __name__ == "__main__":
    unittest.main()
