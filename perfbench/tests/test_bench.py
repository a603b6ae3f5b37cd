"""The benchmark's own tests; no JVM needed.

    python3 -m unittest discover perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def files_under(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputs(unittest.TestCase):
    def generate(self, seed, root):
        gen.write_tables(seed, os.path.join(root, "data"))
        plan = gen.landing(seed, os.path.join(root, "landing"), 1, 4)
        return json.dumps(plan, sort_keys=True)

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(self.generate(7, a), self.generate(7, b))
            names = files_under(a)
            self.assertEqual(names, files_under(b))
            self.assertGreater(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(7, a)
            self.generate(8, b)
            _, mismatch, _ = filecmp.cmpfiles(a, b, files_under(a), shallow=False)
            self.assertIn(os.path.join("data", "orders.parquet"), mismatch)


class OutputCheck(unittest.TestCase):
    SQL = ("SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderdate) AS first "
           "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        work = self.dir.name
        gen.write_tables(3, os.path.join(work, "data"))
        con = workloads.duck(os.path.join(work, "data"))
        self.expected = {"q": compare.duckdb_result(con, self.SQL) + (True, None)}
        cols, rows = self.expected["q"][:2]
        # the engine's JSON encoding of the same rows: a date-valued
        # timestamp column arrives as epoch micros
        self.doc = {"columns": cols,
                    "rows": [[r[0], r[1], {"$ts": r[2][1]}] for r in rows]}
        self.work = work

    def tearDown(self):
        self.dir.cleanup()

    def write(self, doc):
        path = os.path.join(self.work, "out", "results", "q.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f)

    def test_the_right_result_passes(self):
        self.write(self.doc)
        self.assertEqual(run.verify(self.expected, self.work), [])

    def test_one_altered_row_is_caught_and_counted(self):
        planted = json.loads(json.dumps(self.doc))
        planted["rows"][1][1] += 1
        self.write(planted)
        bad = run.verify(self.expected, self.work)
        self.assertEqual([k for k, _ in bad], ["q"])
        ops = [{"op": "agent_sql", "kind": "sql", "ok": True}]
        attempted, failed = run.tally(ops, self.expected, bad)
        self.assertGreater(failed / attempted, 0)

    def test_a_missing_result_is_a_failure(self):
        self.assertEqual([k for k, _ in run.verify(self.expected, self.work)], ["q"])

    def test_a_thrown_operation_is_a_failure(self):
        self.write(self.doc)
        ops = [{"op": "q", "kind": "face", "ok": False}]
        attempted, failed = run.tally(ops, self.expected, run.verify(self.expected, self.work))
        self.assertEqual((attempted, failed), (2, 1))


class Percentiles(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(39), 75)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(199), 95)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(1000), 100)

    def test_nearest_rank_with_ten_beyond(self):
        self.assertEqual(stats.percentile(range(40), 75), 29)
        self.assertEqual(stats.percentile(range(1, 201), 95), 190)


if __name__ == "__main__":
    unittest.main()
