"""Tests of the benchmark itself (no JVM needed):

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import numpy as np

import checks
import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def files(d):
    out = {}
    for root, _, fs in os.walk(d):
        for f in fs:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(w, 5, a, 1)
                gen.generate(w, 5, b, 1)
                gen.generate(w, 6, c, 1)
                self.assertEqual(files(a), files(b), w)
                self.assertNotEqual(files(a), files(c), w)
                with open(os.path.join(a, "params.json")) as fh:
                    p = json.load(fh)
                self.assertEqual((p["seed"], p["batches"]), (5, gen.batches(1)))

    def test_planted_copies_are_near_duplicates(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("train_prep", 3, d, 1)
            docs = checks.read_table(os.path.join(d, "documents"))
            text = dict(zip(docs.column("doc_id").to_pylist(),
                            docs.column("text").to_pylist()))
            pl = checks.read_table(os.path.join(d, "planted.parquet"))
            pairs = list(zip(pl.column("copy_id").to_pylist(),
                             pl.column("source_id").to_pylist()))

            def grams(t):
                w = t.split()
                return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
            for c, s in pairs:
                a, b = grams(text[c]), grams(text[s])
                self.assertGreaterEqual(len(a & b) / len(a | b), 0.5)
            share = len(pairs) / docs.num_rows
            self.assertAlmostEqual(share, gen.WORKLOADS["train_prep"]["dup_share"], 2)


class SkillsCheckTest(unittest.TestCase):
    k = 3

    def setUp(self):
        rng = np.random.default_rng(0)
        n = 40
        self.ids = np.array([f"S{i:03d}" for i in range(n)])
        self.levels = rng.integers(1, 6, size=n)
        self.mat = rng.random((n, 8))
        self.jobs = {f"J{j}": rng.random(8) for j in range(3)}
        self.rows = []
        for job, q in self.jobs.items():
            want = checks.expected_ranking(checks.cosine_dist(self.mat, q),
                                           self.ids, self.levels, self.k)
            row = {"job": job}
            for i, r in enumerate(want):
                row[f"skill{i}"] = self.ids[r]
                row[f"level{i}"] = str(self.levels[r])
            self.rows.append(row)

    def check(self, rows):
        return checks.check_report(rows, list(self.jobs), (self.ids, self.levels, self.mat),
                                   self.jobs, self.k)

    def test_brute_force_report_passes(self):
        self.assertEqual(self.check(self.rows), [])

    def test_wrong_rank_fails(self):
        rows = [dict(r) for r in self.rows]
        r = rows[1]
        r["skill0"], r["skill1"] = r["skill1"], r["skill0"]
        r["level0"], r["level1"] = r["level1"], r["level0"]
        self.assertTrue(any("rank 0" in p for p in self.check(rows)))

    def test_missing_job_fails(self):
        self.assertTrue(any("1 missing" in p for p in self.check(self.rows[1:])))

    def test_repeated_level_fails(self):
        rows = [dict(r) for r in self.rows]
        rows[0]["level1"] = rows[0]["level0"]
        self.assertTrue(any("repeated level" in p for p in self.check(rows)))


class IndexCheckTest(unittest.TestCase):
    def setUp(self):
        texts = ["alpha beta gamma", "beta gamma delta delta", "epsilon zeta",
                 "zeta eta theta", "alpha alpha"]
        self.ids = np.array([f"S{i}" for i in range(len(texts))])
        self.levels = np.arange(len(texts))
        self.vecs = checks.embed(texts, 16)
        self.cents = self.vecs[[0, 2]]
        self.lists = np.argmin(1.0 - self.vecs @ self.cents.T, axis=1)

    def check(self, ids=None, vecs=None, lists=None):
        ids = self.ids if ids is None else ids
        n = len(ids)
        return checks.check_index(
            ids, self.levels[:n], (self.vecs if vecs is None else vecs)[:n],
            self.lists[:n] if lists is None else lists, self.cents,
            (self.ids, self.levels, self.vecs))

    def test_embedding_is_unit_hashing_tf(self):
        v = checks.embed(["A b\tb\nc", "a b b c"], 8)
        self.assertTrue(np.allclose(v[0], v[1]))
        self.assertAlmostEqual(float(np.linalg.norm(v[0])), 1.0)
        self.assertTrue(np.allclose(sorted(v[0][v[0] > 0] ** 2 * 6), [1, 1, 4]))

    def test_loaded_index_passes(self):
        self.assertEqual(self.check(), [])

    def test_missing_row_fails(self):
        self.assertTrue(any("4 rows" in p for p in self.check(ids=self.ids[:4])))

    def test_wrong_vector_fails(self):
        vecs = self.vecs.copy()
        vecs[1] = checks.embed(["beta gamma delta"], 16)[0]
        self.assertTrue(any("hashing-TF" in p for p in self.check(vecs=vecs)))

    def test_row_in_far_list_fails(self):
        lists = self.lists.copy()
        lists[0] = 1 - lists[0]
        self.assertTrue(any("nearest list" in p for p in self.check(lists=lists)))


class TrainingCheckTest(unittest.TestCase):
    cfg = dict(checks.TRAINING, window=4, stride=3, groups=2, budget=10)
    texts = {1: "a b c d e f g",
             2: "a b c d e f x",          # 4 of 6 grams shared with doc 1
             3: "h i j k l m n o p",
             4: "q r",                    # under the token floor
             5: "s t s t s t s t s t",    # repeated grams
             6: "a b c u v w y z"}        # 1 of 10 grams shared with doc 1

    def outputs(self):
        clusters = {1: 1, 2: 1, 3: 3, 6: 6}
        chunks = {d: checks.expected_chunks(len(self.texts[d].split()), 4, 3)
                  for d in (1, 3, 6)}
        shards = [(1, 1, 7, 0), (3, 1, 9, 0), (6, 0, 8, 0)]
        return clusters, chunks, shards

    def check(self, clusters, chunks, shards, planted=((2, 1),)):
        return checks.check_training(clusters, chunks, shards, self.texts,
                                     list(planted), self.cfg)

    def test_brute_force_clusters(self):
        self.assertEqual(checks.expected_clusters(self.texts, self.cfg)[0],
                         {1: 1, 2: 1, 3: 3, 6: 6})

    def test_consistent_outputs_pass(self):
        self.assertEqual(self.check(*self.outputs()), [])
        self.assertEqual(checks.expected_chunks(9, 4, 3), (3, 4 + 4 + 3))

    def test_split_copy_fails(self):
        c, ch, sh = self.outputs()
        c[2] = 2
        self.assertTrue(any("wrong cluster" in p for p in self.check(c, ch, sh)))

    def test_unrelated_doc_merged_fails(self):
        c, ch, sh = self.outputs()
        c[6] = 1
        del ch[6]
        sh = sh[:2]
        self.assertTrue(any("wrong cluster" in p for p in self.check(c, ch, sh)))

    def test_dropped_doc_fails(self):
        c, ch, sh = self.outputs()
        del c[3], ch[3]
        sh = [r for r in sh if r[0] != 3]
        self.assertTrue(any("1 missing" in p for p in self.check(c, ch, sh)))

    def test_filtered_doc_kept_fails(self):
        c, ch, sh = self.outputs()
        c[5] = 5
        self.assertTrue(any("1 extra" in p for p in self.check(c, ch, sh)))

    def test_lost_tokens_fail(self):
        c, ch, sh = self.outputs()
        sh[1] = (3, 1, 8, 0)
        self.assertTrue(self.check(c, ch, sh))


class SummaryTest(unittest.TestCase):
    def test_throwing_op_is_failed_not_fast(self):
        ops = [{"ok": True, "wall_s": 2.0, "items": 100},
               {"ok": False, "wall_s": 0.01, "items": 100, "error": "boom"},
               {"ok": True, "wall_s": 3.0, "items": 100}]
        s = run.summarize(ops, [[], ["boom"], []])
        self.assertEqual((s["attempted"], s["failed"]), (3, 1))
        self.assertEqual(s["op_p50_s"], 2.5)
        self.assertAlmostEqual(s["items_per_s"], 200 / 5.01)

    def test_failed_check_counts_as_failed(self):
        ops = [{"ok": True, "wall_s": 2.0, "items": 100}]
        s = run.summarize(ops, [["rank 0 is wrong"]])
        self.assertEqual((s["failed"], s["items_per_s"]), (1, 0.0))


class ContractTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def test_metric_names_match(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        empty = {"setup": {"first_op_s": 1.0}, "session_s": 1.0, "ops": []}
        _, got, _ = run.end_to_end(empty, [], [])
        self.assertEqual({k: u for k, (_, u) in got.items()}, e2e)
        got = run.per_layer("train_prep", empty, [], 4, gen.WORKLOADS["train_prep"])
        self.assertEqual({k: u for k, (_, u) in got.items()}, layer)
        self.assertEqual({w["name"] for w in bench["workloads"]} - set(gen.WORKLOADS), set())


if __name__ == "__main__":
    unittest.main()
