"""Self-tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s hostbench/tests
"""

import os
import sys
import tempfile
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hb import checks, gen, layers  # noqa: E402
from hb.stats import median, self_times, tail  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 41))          # 40 triggers
        v, p = tail(xs)
        self.assertEqual(v, 30)          # exactly 10 values above it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(p, 75.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 4         # 20 triggers
        self.assertEqual(tail(xs), tail(sorted(xs)))

    def test_twenty_is_the_median(self):
        v, p = tail(range(20))
        self.assertEqual((v, p), (9, 50.0))

    def test_too_few_reports_the_maximum(self):
        self.assertEqual(tail([3, 9, 4]), (9, 100.0))
        self.assertEqual(tail(range(19)), (18, 100.0))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": name}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        s = self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(s, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        s = self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)])
        self.assertEqual(s[1], 40)

    def test_child_outside_parent_is_clipped(self):
        s = self_times([span(1, 0, 0, 100), span(2, 1, 90, 150)])
        self.assertEqual(s[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        s = self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)])
        self.assertEqual(s, {1: 50, 2: 0, 3: 50})

    def test_layer_self_time(self):
        traced = {"spans": [span(1, 0, 0, 100e6, "runtime.run"),
                            span(2, 1, 10e6, 40e6, "sinks.write_batch"),
                            span(3, 1, 50e6, 80e6, "sinks.write_batch")],
                  "counters": {"2": {"jobs": 2, "task_run_ms": 60},
                               "3": {"jobs": 1, "task_run_ms": 60}},
                  "wall_s": 0.1}
        m = layers.compute(traced, [0.1], 4, 1000, 10, [])
        self.assertAlmostEqual(m["runtime.self_ms"], 40.0)
        self.assertAlmostEqual(m["sinks.self_ms"], 60.0)
        self.assertAlmostEqual(m["sinks.write_batch_ms"], 30.0)
        self.assertAlmostEqual(m["sinks.core_busy_share"], 120 / (60.0 * 4))
        self.assertEqual(set(m), set(layers.PER_LAYER))


class CdcCheck(unittest.TestCase):
    def test_generated_truth_matches_itself(self):
        with tempfile.TemporaryDirectory() as d:
            truth, nbytes = gen.gen_cdm(d, 5, 3, 200)
            self.assertEqual(sum(truth.values()), 600)
            self.assertGreater(nbytes, 0)
            actions = Counter(a for (_, a), n in truth.items() for _ in range(n))
            self.assertEqual(set(actions), {"INSERT", "AFTER_UPDATE", "DELETE"})
            again, _ = gen.gen_cdm(os.path.join(d, "again"), 5, 3, 200)
            self.assertEqual(truth, again)

    def sink(self, d, rows, token=True):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(os.path.join(d, "data"))
        os.makedirs(os.path.join(d, "schema"))
        pq.write_table(pa.table({"RECID": [r for r, _, _ in rows],
                                 "DML_Action": [a for _, a, _ in rows],
                                 "ARCANE_MERGE_KEY": [k for _, _, k in rows]}),
                       os.path.join(d, "data", "part-0-h-chunk.parquet"))
        open(os.path.join(d, "schema", "schema-0-h.parquet"), "w").close()
        if token:
            open(os.path.join(d, "h.COMPLETED"), "w").close()

    def test_landed_multiset(self):
        truth = Counter({(7, "INSERT"): 1, (7, "DELETE"): 1, (8, "INSERT"): 2})
        rows = [(7, "INSERT", "7"), (7, "DELETE", "7"), (8, "INSERT", "8"), (8, "INSERT", "8")]
        with tempfile.TemporaryDirectory() as d:
            self.sink(d, rows)
            self.assertEqual(checks.check_cdc(d, truth), [])
        with tempfile.TemporaryDirectory() as d:
            self.sink(d, rows[:3], token=False)
            errs = checks.check_cdc(d, truth)
            self.assertTrue(any("COMPLETED" in e for e in errs))
            self.assertTrue(any("1 missing" in e for e in errs))
        with tempfile.TemporaryDirectory() as d:
            self.sink(d, rows[:3] + [(8, "INSERT", "x")])
            self.assertTrue(any("MERGE_KEY" in e for e in checks.check_cdc(d, truth)))


class DecisionCheck(unittest.TestCase):
    # docs 1 (base) and 3 (its exact copy), 4 (near copy), 2 and 5 uniques
    truth = {1: ("base", 1), 2: ("unique", 2), 3: ("exact", 1), 4: ("near", 1),
             5: ("unique", 5)}

    def good(self):
        dec = [(1, "keep", 1), (2, "keep", 2), (3, "drop_exact", 1), (4, "drop_near", 1),
               (5, "keep", 5)]
        comps = [(1, 1), (3, 1), (4, 1)]
        return dec, comps

    def test_correct_outputs_pass(self):
        dec, comps = self.good()
        self.assertEqual(checks.check_decisions(dec, comps, self.truth), [])

    def test_undetected_near_copy_is_allowed(self):
        dec, _ = self.good()
        dec[3] = (4, "keep", 4)
        self.assertEqual(checks.check_decisions(dec, [(1, 1), (3, 1)], self.truth), [])

    def test_exact_copy_kept_fails(self):
        dec, comps = self.good()
        dec[2] = (3, "keep", 3)
        errs = checks.check_decisions(dec, [(1, 1), (4, 1)], self.truth)
        self.assertTrue(any("exact" in e for e in errs))

    def test_wrong_keeper_fails(self):
        dec, comps = self.good()
        dec[2] = (3, "drop_exact", 2)
        self.assertTrue(checks.check_decisions(dec, comps, self.truth))

    def test_unique_claimed_fails(self):
        dec, comps = self.good()
        dec[4] = (5, "drop_semantic", 1)
        self.assertTrue(checks.check_decisions(dec, comps + [(5, 1)], self.truth))

    def test_duplicate_and_missing_verdicts_fail(self):
        dec, comps = self.good()
        errs = checks.check_decisions(dec[:-1] + [dec[0]], comps, self.truth)
        self.assertTrue(any("more than one" in e for e in errs))
        self.assertTrue(any("no verdict" in e for e in errs))

    def test_merged_groups_fail(self):
        dec, comps = self.good()
        errs = checks.check_decisions(dec, comps + [(2, 1)], self.truth)
        self.assertTrue(any("components" in e for e in errs))

    def test_kept_copy_may_key_a_later_copy(self):
        # near copy 4 arrived with its base and was kept; semantic copy 6
        # then matched 4: two components inside one planted group
        truth = {**self.truth, 6: ("semantic", 1)}
        dec = [(1, "keep", 1), (2, "keep", 2), (3, "drop_exact", 1), (4, "keep", 4),
               (5, "keep", 5), (6, "drop_semantic", 4)]
        comps = [(1, 1), (3, 1), (4, 4), (6, 4)]
        self.assertEqual(checks.check_decisions(dec, comps, truth), [])
        errs = checks.check_decisions(dec, [(1, 1), (3, 1), (4, 1), (6, 1)], truth)
        self.assertTrue(any("duplicate edges" in e for e in errs))


class Planting(unittest.TestCase):
    def test_groups_arrive_after_their_base(self):
        import random
        docs, truth = gen.plant_docs(random.Random(3), 400, 20,
                                     {"exact": 1, "near": 1, "semantic": 1}, first_id=1)
        self.assertEqual([d[0] for d in docs], list(range(1, 401)))
        roles = Counter(r for r, _ in truth.values())
        self.assertEqual((roles["base"], roles["exact"], roles["near"], roles["semantic"]),
                         (20, 20, 20, 20))
        text = {d[0]: d[1] for d in docs}
        for doc, (role, base) in truth.items():
            if role != "unique":
                self.assertLessEqual(base, doc)
            if role == "exact":
                self.assertEqual(text[doc], text[base])

    def test_unrelated_embeddings_stay_below_the_semantic_threshold(self):
        import random
        rng = random.Random(1)
        vs = [gen._unit(rng, gen.EMB_DIM) for _ in range(200)]
        worst = max(sum(a * b for a, b in zip(vs[i], vs[j]))
                    for i in range(len(vs)) for j in range(i))
        self.assertLess(worst, 0.30)


if __name__ == "__main__":
    unittest.main()
