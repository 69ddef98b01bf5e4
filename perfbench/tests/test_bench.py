"""Tests of the benchmark's own pieces: generator determinism, the output
checks catching an injected wrong result, the tail-percentile rule and
the clean-up of child processes.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import signal
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for wl in ("table_lifecycle", "llm_dedup"):
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                gen.generate(wl, 11, a)
                gen.generate(wl, 11, b)
                self.assertEqual(tree_digest(a), tree_digest(b), wl)

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.generate("llm_dedup", 11, a)
            gen.generate("llm_dedup", 12, b)
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_tables_are_the_sf01_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("table_lifecycle", 11, d)
            with open(os.path.join(d, "data", "orders.parquet"), "rb") as a, \
                    open(os.path.join(gen.DATA, "orders.parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read())

    def test_dedup_truth_holds_the_corpus_and_planted_pairs(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            plan = gen.generate("llm_dedup", 11, d)
            docs = pq.read_table(
                os.path.join(d, "corpus", "documents.parquet"))
        text = dict(zip(docs.column("doc_id").to_pylist(),
                        docs.column("text").to_pylist()))
        pairs = {tuple(p) for p in plan["dup_pairs"]}
        # the corpus's own "<text> dup" copies are in the truth
        base = {t: i for i, t in text.items() if i < gen.DEDUP_OFFSET}
        own = [(base[t[:-4]], i) for i, t in text.items()
               if t.endswith(" dup") and t[:-4] in base]
        self.assertTrue(own)
        for a, b in own:
            self.assertIn((min(a, b), max(a, b)), pairs)
        # every planted doc pairs with its source
        planted = [i for i in text if i >= gen.DEDUP_OFFSET]
        self.assertEqual(len(planted),
                         2 * plan["dims"]["planted_near_dup_docs"])
        for i in planted:
            self.assertTrue(any(b == i for _, b in pairs), i)

    def test_lifecycle_passes_hold_the_same_mix(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.generate("table_lifecycle", 3, d)
        kinds = [o["kind"] for o in plan["ops"]]
        n = len(kinds) // gen.LIFE_PASSES
        for p in range(gen.LIFE_PASSES):
            one = kinds[p * n:(p + 1) * n]
            self.assertEqual(one[-1], "maintain")
            self.assertEqual(sum(k in ("upsert", "sql_merge", "delete_where",
                                       "update_where") for k in one),
                             gen.LIFE_COMMITS_PER_PASS)


class ChecksCatchWrongResultsTest(unittest.TestCase):
    def test_lifecycle_read_with_a_wrong_digest_fails(self):
        plan_op = {"kind": "read", "expect": {"rows": 3, "key_sum": 6,
                                              "cents_sum": 900}}
        good = {"extra": {"digest": dict(plan_op["expect"])}}
        bad = {"extra": {"digest": dict(plan_op["expect"], cents_sum=901)}}
        self.assertEqual(report.check_lifecycle_op(plan_op, good), "")
        self.assertNotEqual(report.check_lifecycle_op(plan_op, bad), "")

    def test_maintenance_that_loses_a_table_property_fails(self):
        plan_op = {"kind": "maintain", "after": {"rows": 1}}
        self.assertEqual(report.check_lifecycle_op(plan_op, {"extra": {}}),
                         "")
        self.assertNotEqual(report.check_lifecycle_op(
            plan_op, {"extra": {"props_lost": "keyCol"}}), "")

    def test_lifecycle_final_mirror_drift_fails(self):
        plan = {"initial": {"rows": 1}, "ops": [
            {"kind": "upsert", "after": {"rows": 2}}]}
        raw = {"ops": [{"i": 0, "ok": True, "extra": {}}],
               "results": {"source": {"rows": 2}, "mirror": {"rows": 1}}}
        _, final = report.check_lifecycle(raw, plan)
        self.assertEqual(final["source"], "")
        self.assertNotEqual(final["mirror"], "")

    def test_oracle_comparator_catches_one_changed_value(self):
        import pandas as pd
        check = report.load_comparator(ROOT)
        want = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]})
        self.assertEqual(report.frames_match(check, want.copy(), want), "")
        got = want.copy()
        got.loc[1, "v"] = 2.25
        self.assertNotEqual(report.frames_match(check, got, want), "")
        self.assertNotEqual(
            report.frames_match(check, want.iloc[:2].copy(), want), "")

    def test_exact_dedup_with_a_missing_doc_fails(self):
        import pyarrow as pa
        with tempfile.TemporaryDirectory() as d:
            plan = {"exact_ids": [1, 2, 3], "dup_pairs": [[1, 9]],
                    "vec_pairs": [[4, 8]]}
            os.makedirs(os.path.join(d, "out", "dedup_exact"))
            gen.write(pa.table({"doc_id": [1, 3], "h": ["a", "c"]}),
                      os.path.join(d, "out", "dedup_exact", "p.parquet"))
            reasons, _ = report.check_dedup({}, plan, d)
            self.assertNotEqual(reasons["dedup_exact"], "")
            gen.write(pa.table({"doc_id": [1, 2, 3], "h": ["a", "b", "c"]}),
                      os.path.join(d, "out", "dedup_exact", "p.parquet"))
            reasons, _ = report.check_dedup({}, plan, d)
            self.assertEqual(reasons["dedup_exact"], "")


class TailRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, p in ((40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0),
                     (1000, 99.0), (10000, 99.9)):
            _, got, count = report.tail(list(range(n)))
            self.assertEqual((got, count), (p, n), n)

    def test_tail_value_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))          # 1..100
        v, p, _ = report.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(v, 90)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_small_sample_has_no_tail(self):
        for n in (3, 20, 39):
            self.assertEqual(report.tail(list(range(n))), (None, None, n))


class RunChildTest(unittest.TestCase):
    def assert_no_child_left(self):
        with self.assertRaises(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)

    def test_timeout_kills_and_reaps_the_child(self):
        self.assertEqual(build.run_child(["sleep", "30"], timeout=0.3),
                         "timeout")
        self.assert_no_child_left()

    def test_exit_raised_inside_the_wait_kills_and_reaps_the_child(self):
        old = signal.signal(signal.SIGALRM, lambda *_: sys.exit(143))
        try:
            signal.setitimer(signal.ITIMER_REAL, 0.3)
            with self.assertRaises(SystemExit):
                build.run_child(["sleep", "30"])
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
            signal.signal(signal.SIGALRM, old)
        self.assert_no_child_left()


if __name__ == "__main__":
    unittest.main()
