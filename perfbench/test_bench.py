"""The benchmark's own tests: the tail-percentile helper, span self time,
generator determinism, the etl_stream check, and BENCHMARK.json against
run.py.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_statements  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_above(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_chosen_percentile_leaves_ten_above(self):
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            above = [x for x in xs if x > stats.percentile(xs, p)]
            self.assertGreaterEqual(len(above), 10, n)
            if p < 99:  # the next percentile up would leave fewer
                nxt = [x for x in xs if x > stats.percentile(xs, p + 1)]
                self.assertLess(len(nxt), 10, n)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e}

    def test_children_subtract_once_and_clip(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),  # overlap
                 self.span(3, 0, 90, 120),  # runs past the parent
                 self.span(4, 1, 15, 20)]
        got = stats.self_times(spans)
        self.assertEqual(got[0], 100 - 50 - 10)
        self.assertEqual(got[1], 30 - 5)
        self.assertEqual(got[2], 30)
        self.assertEqual(got[4], 5)

    def test_covered(self):
        self.assertEqual(stats.covered([(5, 10), (0, 3), (8, 20)], 0, 15), 3 + 10)
        self.assertEqual(stats.covered([], 0, 15), 0)


class GeneratorDeterminismTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        gen_tables.write_base(cls.base, 0.001)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def copy(self, seed, tag):
        dst = os.path.join(self.tmp.name, tag)
        return dst, gen_tables.jittered_copy(self.base, dst, seed)

    def test_tables_same_seed_same_bytes(self):
        a, sa = self.copy(7, "a")
        b, sb = self.copy(7, "b")
        self.assertEqual(sa, sb)
        names = [f"{t}.parquet" for t in gen_tables.TABLES]
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_tables_other_seed_other_keys_same_sizes(self):
        import pyarrow.parquet as pq
        a, sa = self.copy(7, "c")
        b, sb = self.copy(8, "d")
        self.assertEqual({t: v["rows"] for t, v in sa.items()},
                         {t: v["rows"] for t, v in sb.items()})
        for t, cols in gen_tables.KEY_FAMILIES.items():
            for col, fam in cols.items():
                if fam == "vec":  # same dense ids, assigned to other vectors
                    ea, eb = (dict(zip(pq.read_table(f"{x}/{t}.parquet")[col].to_pylist(),
                                       pq.read_table(f"{x}/{t}.parquet")["label"].to_pylist()))
                              for x in (a, b))
                    self.assertNotEqual(ea, eb)
                    continue
                ka = set(pq.read_table(f"{a}/{t}.parquet", columns=[col])[col].to_pylist())
                kb = set(pq.read_table(f"{b}/{t}.parquet", columns=[col])[col].to_pylist())
                self.assertNotEqual(ka, kb, f"{t}.{col}")

    def test_vector_ids_dense_and_low_ids_pinned(self):
        import pyarrow.parquet as pq

        def vectors(x):
            t = pq.read_table(f"{x}/embeddings.parquet")
            return dict(zip(t["vec_id"].to_pylist(),
                            (tuple(v) for v in t["embedding"].to_pylist())))
        base = vectors(self.base)
        a, _ = self.copy(9, "e")
        b, _ = self.copy(10, "f")
        va, vb = vectors(a), vectors(b)
        self.assertEqual(sorted(va), list(range(len(base))))
        self.assertEqual(sorted(vb), list(range(len(base))))
        pinned = range(gen_tables.PINNED_VEC_IDS)
        # the quantizer's centroids and the ANN queries are seed-independent
        self.assertEqual([va[i] for i in pinned], [base[i] for i in pinned])
        self.assertEqual([vb[i] for i in pinned], [base[i] for i in pinned])
        self.assertNotEqual(va, vb)

    def test_statement_days(self):
        with tempfile.TemporaryDirectory() as d:
            m1 = gen_statements.write_days(f"{d}/a", 5, 3)
            m2 = gen_statements.write_days(f"{d}/b", 5, 3)
            m3 = gen_statements.write_days(f"{d}/c", 6, 3)
            self.assertEqual(m1, m2)
            self.assertEqual(len(m1), 3 * (6 * 4 + 2))
            self.assertEqual(len(m1), len(m3))
            self.assertNotEqual([r["amount"] for r in m1], [r["amount"] for r in m3])
            cmp = filecmp.dircmp(f"{d}/a", f"{d}/b")
            self.assertEqual((cmp.left_only, cmp.right_only, cmp.diff_files), ([], [], []))
            for day in cmp.common_dirs:
                sub = cmp.subdirs[day]
                self.assertEqual((sub.left_only, sub.right_only, sub.diff_files),
                                 ([], [], []))
            self.assertEqual(sum(not r["valid"] for r in m1), 2 * 3)


class CheckStreamTest(unittest.TestCase):
    """The etl_stream check reports a wrong day by name, also when the
    stream and the batch ingest both lost it."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.work = self.tmp.name
        self.manifest = gen_statements.write_days(f"{self.work}/days", 3, 2)
        self.days = sorted(os.listdir(f"{self.work}/days"))
        os.rename(f"{self.work}/days", f"{self.work}/watch")
        self.jvm = {"failed": {}, "watch_dir": f"{self.work}/watch",
                    "days_processed": 2, "extracted_dir": f"{self.work}/extracted",
                    "pairs_dir": f"{self.work}/pairs"}

    def tearDown(self):
        self.tmp.cleanup()

    def write_rows(self, path, days):
        import pandas as pd
        rows = [{"file_name": m["file"], "batch_date": m["trade_date"],
                 "platform": m["platform"], "biz_type": m["biz_type"],
                 "fund_code": m["fund_code"], "amount": m["amount"] / 100,
                 "fee": m["fee"] / 100, "trade_date": m["trade_date"],
                 "valid": m["valid"]} for m in self.manifest if m["trade_date"] in days]
        os.makedirs(path)
        pd.DataFrame(rows).to_parquet(f"{path}/part-0.parquet")

    def test_all_days_right(self):
        self.write_rows(f"{self.work}/extracted", self.days)
        self.write_rows(f"{self.work}/check/ingest_full", self.days)
        wrong, info = check.check_stream(self.work, self.manifest, self.jvm)
        self.assertEqual(wrong, {})
        self.assertEqual(info, {"files": len(self.manifest),
                                "valid": sum(m["valid"] for m in self.manifest)})

    def test_day_lost_by_stream_and_batch(self):
        self.write_rows(f"{self.work}/extracted", self.days[:1])
        self.write_rows(f"{self.work}/check/ingest_full", self.days[:1])
        wrong, _ = check.check_stream(self.work, self.manifest, self.jvm)
        self.assertEqual(list(wrong), [self.days[1]])

    def test_no_stream_output(self):
        self.write_rows(f"{self.work}/check/ingest_full", self.days)
        wrong, _ = check.check_stream(self.work, self.manifest, self.jvm)
        self.assertEqual(sorted(wrong), self.days)

    def test_no_batch_output(self):
        self.write_rows(f"{self.work}/extracted", self.days)
        wrong, _ = check.check_stream(self.work, self.manifest, self.jvm)
        self.assertEqual(sorted(wrong), self.days)


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_run_py(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        for m in spec["end_to_end"]:
            self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        ops = {m["name"].split(".")[1] for m in spec["per_layer"] if m["name"].startswith("op.")}
        self.assertEqual(ops, set(run.JOB_FLOOR_TARGETS))


if __name__ == "__main__":
    unittest.main()
