"""Tests of the benchmark's own logic: seeded generators, the percentile
rule, span self-time arithmetic and the Spark roll-ups.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        tmp = os.path.join(ROOT, ".bench_build", "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=tmp)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def same_seed_same_bytes(self, make):
        a, b, c = (os.path.join(self.dir, x) for x in "abc")
        pa, pb = make(7, a), make(7, b)
        make(8, c)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(pa, pb)
        self.assertNotEqual(digest(a), digest(c))
        return pa

    def test_search_inputs(self):
        p = self.same_seed_same_bytes(lambda s, d: gen.search_inputs(
            s, d, n_base=300, n_steps=3, new_per_step=20, updates_per_step=5,
            takedowns_per_step=4, n_queries=12))
        self.assertEqual(p["docs"], 300)
        self.assertGreater(p["longest_posting_list"], 100)

    def test_templated_corpus_plants_families(self):
        p = self.same_seed_same_bytes(lambda s, d: gen.templated_corpus(
            s, d, n_docs=100, exact_families=3, exact_copies=2, near_families=4,
            near_copies=2))
        self.assertEqual(p["docs"], 100 + 3 * 2 + 4 * 2)
        self.assertLess(p["vocab"], 50)

    def test_sf_subsample_is_key_consistent(self):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        self.same_seed_same_bytes(lambda s, d: gen.sf_subsample(s, run.POOL, d))
        d = os.path.join(self.dir, "a")
        t = {n: pq.read_table(os.path.join(d, n + ".parquet")) for n in gen.POOL_TABLES}
        self.assertTrue(pc.all(pc.is_in(t["orders"]["o_custkey"],
                                        value_set=t["customer"]["c_custkey"])).as_py())
        self.assertTrue(pc.all(pc.is_in(t["lineitem"]["l_orderkey"],
                                        value_set=t["orders"]["o_orderkey"])).as_py())

    def test_churn_plan_never_relands_a_takedown(self):
        import pyarrow.parquet as pq
        gen.search_inputs(3, self.dir, n_base=200, n_steps=5, new_per_step=10,
                          updates_per_step=5, takedowns_per_step=5, n_queries=6)
        land = pq.read_table(os.path.join(self.dir, "land.parquet")).to_pydict()
        td = pq.read_table(os.path.join(self.dir, "takedown.parquet")).to_pydict()
        gone_at = dict(zip(td["doc_id"], td["step"]))
        for step, doc in zip(land["step"], land["doc_id"]):
            self.assertFalse(doc in gone_at and gone_at[doc] <= step)


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 above
        self.assertEqual(M.tail_percentile(xs), (95, 190, 200))
        self.assertEqual(M.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(M.tail_percentile(list(range(1000)))[0], 99)

    def test_too_few_samples(self):
        self.assertIsNone(M.tail_percentile(list(range(19))))
        self.assertEqual(M.tail_percentile(list(range(20)))[0], 50)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(M.tail_percentile(xs), M.tail_percentile(sorted(xs)))


def span(i, name, parent, start, end, op=1):
    return [i, op, name, parent, start, end]


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, "op", 0, 0, 100), span(2, "build", 1, 0, 30),
                 span(3, "plan", 1, 30, 40), span(4, "exec", 1, 45, 100)]
        st = M.self_times(spans)
        self.assertEqual(st, {1: 5, 2: 30, 3: 10, 4: 55})

    def test_overlapping_children_count_once(self):
        spans = [span(1, "op", 0, 0, 100), span(2, "a", 1, 10, 50),
                 span(3, "b", 1, 40, 60)]
        self.assertEqual(M.self_times(spans)[1], 50)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, "op", 0, 10, 20), span(2, "a", 1, 0, 15)]
        self.assertEqual(M.self_times(spans)[1], 5)

    def test_rollup_by_path(self):
        spans = [span(1, "query.term", 0, 0, 10), span(2, "exec", 1, 2, 10),
                 span(3, "query.term", 0, 20, 30, op=2), span(4, "exec", 3, 21, 30, op=2)]
        roll = M.layer_rollup(spans)
        self.assertEqual(roll["query.term"], {"calls": 2, "self_ms": 3})
        self.assertEqual(roll["query.term/exec"], {"calls": 2, "self_ms": 17})


class SparkRollupTest(unittest.TestCase):
    raw = {
        "spans": [span(1, "op", 0, 0, 100), span(2, "build", 1, 0, 10),
                  span(3, "plan", 1, 10, 20), span(4, "exec", 1, 20, 100)],
        # [id, span, submit, end, stage ids]; stage 3 was skipped
        "jobs": [[0, 2, 0, 10, [0]], [1, 4, 20, 100, [1, 2, 3]], [2, 0, 200, 210, [4]]],
        # [id, attempt, submit, complete, tasks]
        "stages": [[0, 0, 0, 10, 1], [1, 0, 20, 60, 2], [2, 0, 60, 100, 1], [4, 0, 200, 210, 1]],
        # [stage, launch, finish, run_ms, cpu_ns, gc_ms, sw, sr, spill]
        "tasks": [[0, 2, 10, 8, 8e6, 0, 100, 0, 0], [1, 25, 60, 30, 2e7, 1, 50, 0, 0],
                  [1, 25, 35, 10, 1e7, 0, 50, 0, 0], [2, 61, 100, 39, 3e7, 2, 0, 200, 0],
                  [4, 201, 210, 9, 9e6, 0, 0, 0, 0]],
    }

    def test_only_jobs_under_spans_count(self):
        r = M.spark_rollup(self.raw)
        self.assertEqual((r["jobs"], r["stages"], r["tasks"]), (2, 3, 4))
        self.assertAlmostEqual(r["task_run_s"], 0.087)
        self.assertEqual(r["shuffle_write_bytes"], 200)
        self.assertAlmostEqual(r["stage_wait_s"], 0.008)
        self.assertAlmostEqual(r["task_skew"], 30 / 20)  # stage 1: tasks of 30 and 10 ms

    def test_op_phases(self):
        ph = M.op_phases(self.raw["spans"], self.raw)
        self.assertEqual(ph["calls"], 1)
        self.assertEqual((ph["build_ms"], ph["plan_ms"], ph["exec_ms"]), (10, 10, 80))
        self.assertEqual(ph["eager_jobs_per_op"], 1)
        self.assertEqual(ph["jobs_per_op"], 2)
        self.assertEqual(ph["stages_per_op"], 3)
        self.assertEqual(ph["ms_per_stage"], 40)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_tables_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.GENERATORS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
