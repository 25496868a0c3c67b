"""Tests of the benchmark itself: generator determinism, the tail
percentile rule, and failure accounting.

    python3 -m unittest perfbench/test_perfbench.py

The last test builds the engine and runs one real pass with an injected
failing op; it is skipped when no Spark installation is found.
"""
import glob
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def digest(root):
    """{relative path: sha256} of every file under root."""
    out = {}
    for p in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def path(self, *p):
        return os.path.join(self.tmp, *p)

    def test_tables_same_seed_identical(self):
        gen.write_tables(self.path("a"), 5, 0.02)
        gen.write_tables(self.path("b"), 5, 0.02)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))

    def test_tables_other_seed_same_sizes_other_content(self):
        gen.write_tables(self.path("a"), 5, 0.02)
        gen.write_tables(self.path("b"), 6, 0.02)
        da, db = digest(self.path("a")), digest(self.path("b"))
        self.assertEqual(sorted(da), sorted(db))
        for t in gen.TABLES:
            a = pq.read_table(self.path("a", f"{t}.parquet"))
            b = pq.read_table(self.path("b", f"{t}.parquet"))
            self.assertEqual(a.schema, b.schema, t)
            self.assertEqual(a.num_rows, b.num_rows, t)
            if t != "lineitem":  # lineitem has no unique key, as in TPC-H here
                key = a.column_names[0]
                self.assertEqual(sorted(a.column(key).to_pylist()),
                                 list(range(a.num_rows)), t)
                self.assertEqual(sorted(b.column(key).to_pylist()),
                                 list(range(b.num_rows)), t)
        changed = [t for t in gen.TABLES if da[f"{t}.parquet"] != db[f"{t}.parquet"]]
        self.assertEqual(set(changed), set(gen.TABLES) - {"region", "nation"})
        self.assertEqual(da["probe.parquet"], db["probe.parquet"])

    def test_corpus_same_seed_identical_other_seed_same_shape(self):
        gen.write_corpus(self.path("a"), 5, 20, 10)
        gen.write_corpus(self.path("b"), 5, 20, 10)
        gen.write_corpus(self.path("c"), 6, 20, 10)
        da, db, dc = (digest(self.path(x)) for x in "abc")
        self.assertEqual(da, db)
        for sub, n in (("train/pos", 10), ("train/neg", 10), ("test", 10)):
            self.assertEqual(len([k for k in da if k.startswith(sub + "/")]), n)
            self.assertEqual(len([k for k in dc if k.startswith(sub + "/")]), n)
        tests_a = {k: v for k, v in da.items() if k.startswith("test/")}
        tests_c = {k: v for k, v in dc.items() if k.startswith("test/")}
        self.assertEqual(sorted(tests_a), sorted(tests_c))
        self.assertNotEqual(tests_a, tests_c)


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, beyond = run.tail(reversed(xs))
        self.assertEqual(value, 20)
        self.assertEqual(len([x for x in xs if x > value]), 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(beyond, 10)

    def test_more_samples_higher_percentile(self):
        value, pct, _ = run.tail(range(1000))
        self.assertEqual(value, 989)
        self.assertAlmostEqual(pct, 99.0)

    def test_too_few_samples_gives_max(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        # 20 samples: ten beyond would put the tail at the median
        self.assertEqual(run.tail(range(20)), (19, 100.0, 0))
        self.assertEqual(run.tail(range(21))[0], 10)


def fake_pass(ops, setup=(2.0, 0.5, 0.4)):
    return {"setup_s": list(setup), "rss_peak_mb": 100.0, "host": {},
            "ops": [dict(o) for o in ops]}


class FailureAccountingTest(unittest.TestCase):
    OPS = [{"name": "a", "ok": True, "elapsed_s": 1.0},
           {"name": "b", "ok": False, "elapsed_s": 4.0, "error": "boom"},
           {"name": "c", "ok": True, "elapsed_s": 2.0}]

    def test_thrown_op_counts_and_keeps_its_time(self):
        r = fake_pass(self.OPS)
        f = run.failures_of(r, {})
        self.assertEqual(f, {"b": "boom"})
        s = run.summarize([r], f, 7e6)
        self.assertEqual(s["failed"], 1)
        self.assertEqual(s["attempted"], 3)
        self.assertAlmostEqual(s["failed_frac"], 1 / 3)
        # a failing op makes the pass slower, never faster
        self.assertAlmostEqual(s["metrics"]["wall_s"], 7.0)
        self.assertAlmostEqual(s["metrics"]["query_p50_s"], 2.0)
        self.assertAlmostEqual(s["metrics"]["input_mb_s"], 1.0)

    def test_failed_check_counts(self):
        r = fake_pass(self.OPS)
        f = run.failures_of(r, {"c": "values differ"})
        self.assertEqual(set(f), {"b", "c"})
        self.assertEqual(run.summarize([r], f, 1e6)["failed"], 2)

    def test_setup_is_median_of_setups(self):
        s = run.summarize([fake_pass(self.OPS)], {}, 1e6)
        self.assertAlmostEqual(s["metrics"]["setup_s"], 0.5)
        self.assertAlmostEqual(s["setup_cold_s"], 2.0)

    def test_opinion_check_counts_missing_lines_and_low_accuracy(self):
        out = tempfile.mkdtemp()
        try:
            for name, lines in (("ok", ["00000\t1.0", "00001\t0.0"]),
                                ("short", ["00000\t1.0"]),
                                ("weak", ["00000\t1.0", "00001\t1.0"])):
                os.makedirs(os.path.join(out, "check", name))
                with open(os.path.join(out, "check", name, "part-00000.csv"), "w") as f:
                    f.write("\n".join(lines) + "\n")
            result = {"ops": [{"name": "ok", "ok": True, "accuracy": 0.9},
                              {"name": "short", "ok": True, "accuracy": 0.9},
                              {"name": "weak", "ok": True, "accuracy": 0.5}]}
            bad = run.check_opinion(result, ["00000", "00001"], out,
                                    {"ok": 0.8, "short": 0.8, "weak": 0.8})
            self.assertEqual(set(bad), {"short", "weak"})
        finally:
            shutil.rmtree(out)


def have_spark():
    try:
        return bool(run.spark_jars())
    except run.BenchError:
        return False


@unittest.skipUnless(have_spark(), "no Spark installation")
class InjectedFailureTest(unittest.TestCase):
    """A real pass with one catalog op and one op that does not exist:
    the bogus op throws inside the harness and is counted as failed."""

    def test_injected_op_is_counted(self):
        tmp = tempfile.mkdtemp(dir=run.WORK if os.path.isdir(run.WORK) else None)
        try:
            classes = run.build()
            inputs = os.path.join(tmp, "inputs")
            gen.write_tables(inputs, 1, 0.01)
            spec = run.WORKLOADS["catalog_short"]
            out = os.path.join(tmp, "pass")
            r = run.run_pass(classes, spec, ["q09_topk", "no_such_query"], inputs, out,
                             2, False, True, 1, timeout=170)
            f = run.failures_of(r, run.check_catalog(r, inputs, out))
            self.assertEqual(list(f), ["no_such_query"])
            s = run.summarize([r], f, 1e6)
            self.assertEqual((s["attempted"], s["failed"]), (2, 1))
            self.assertGreater(s["metrics"]["wall_s"],
                               [o for o in r["ops"] if o["name"] == "q09_topk"][0]["elapsed_s"])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
