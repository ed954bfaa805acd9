"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build", "tests")


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class Base(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        os.makedirs(out)
        gen.generate(workload, seed, out)
        return out


class GeneratorTest(Base):
    def test_same_seed_gives_identical_inputs(self):
        for w in gen.SIZES:
            a = self.gen(w, 7, f"{w}-a")
            b = self.gen(w, 7, f"{w}-b")
            files = tree(a)
            self.assertEqual(files, tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_different_seed_gives_different_inputs(self):
        for w in gen.SIZES:
            a = self.gen(w, 7, f"{w}-a")
            b = self.gen(w, 8, f"{w}-b")
            files = [f for f in tree(a) if f.endswith(".parquet") or f.endswith(".txt")]
            match, _, _ = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual(match, [], w)

    def test_ids_are_sparse_and_distinct(self):
        d = self.gen("fwd_bulk", 3, "f")
        ids = pq.read_table(os.path.join(d, "documents.parquet")).column("doc_id").to_pylist()
        self.assertEqual(len(ids), len(set(ids)))
        self.assertGreater(max(ids), 10 ** 11)
        self.assertLess(max(ids), gen.ID_SPACE)

    def test_job_texts_are_mostly_exact_duplicates(self):
        d = self.gen("fwd_job", 3, "j")
        texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        self.assertGreater(1 - len(set(texts)) / len(texts), 0.98)


class CheckerTest(Base):
    """The expected rows differ from a planted wrong row, and the mismatch
    diagnosis finds it (no JVM involved: the 'program output' here is the
    reference's own rows)."""

    def output(self, rows, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        cols = list(zip(*rows))
        schema = check.SCHEMAS["rev"]
        pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                                schema=schema), os.path.join(d, "part-0.parquet"))
        return {"kind": "rev", "cols": [f.name for f in schema], "dir": d}

    def test_planted_wrong_row_is_caught(self):
        data = self.gen("rev_bulk", 5, "r")
        sizes = check.write_expected("rev_bulk", data, None, self.tmp)
        rows = check.reverse_oracle(check.connect(self.tmp), data)
        self.assertEqual(sizes, {"rev": len(rows)})
        self.assertEqual({r[3] for r in rows}, {"pip", "knn"})  # both paths exercised
        self.assertIsNone(check.diagnose(self.tmp, self.output(rows, "good")))
        wrong = list(rows)
        e, t, f, v = wrong[17]
        wrong[17] = (e, t, f + 1, v)
        d = check.diagnose(self.tmp, self.output(wrong, "bad"))
        self.assertEqual(d["missing"], [list(map(str, rows[17]))])
        self.assertEqual(d["unexpected"], [list(map(str, wrong[17]))])

    def test_diff(self):
        self.assertIsNone(check.diff([(1, "a"), (2, "b")], [(2, "b"), (1, "a")]))
        self.assertIsNotNone(check.diff([(1, "a"), (2, "b")], [(1, "a")]))
        self.assertIsNotNone(check.diff([(1, "a")], [(1, "a"), (1, "a")]))
        self.assertIsNotNone(check.diff([(1, 0.5)], [(1, 0.5000000000000001)]))


class TailTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90, 100))
        v, p, n = stats.tail(list(range(1, 31)))
        self.assertEqual((p, n), (66, 30))
        self.assertEqual(v, 20)  # rank ceil(0.66 * 30) = 20, ten above it
        self.assertEqual(sum(1 for x in range(1, 31) if x > v), 10)

    def test_tail_is_order_free(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(stats.tail([1.0] * 10), (1.0, 100, 10))
        v, p, n = stats.tail(list(range(11)))
        self.assertEqual((v, p, n), (0, 9, 11))

    def test_later_half_keeps_the_middle_sample(self):
        self.assertEqual(stats.later_half([5, 4, 3]), [4, 3])
        self.assertEqual(stats.later_half([6, 5, 4, 3]), [4, 3])
        self.assertEqual(stats.later_half([7]), [7])

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1.0] * 5), 0.0)
        self.assertGreater(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


if __name__ == "__main__":
    unittest.main()
