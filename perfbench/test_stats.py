"""Self-tests of the benchmark's own arithmetic (no build, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


class TailRank(unittest.TestCase):
    def test_leaves_enough_beyond(self):
        for n in range(2, 400):
            p, rank = stats.tail_rank(n)
            beyond = min(10, max(1, n // 6))
            self.assertGreaterEqual(n - rank, beyond, n)
            if p < 99:
                # the next percentile up would leave too few
                self.assertLess(n - max(1, math.ceil((p + 1) * n / 100)), beyond, n)

    def test_known_counts(self):
        self.assertEqual(stats.tail_rank(4), (75, 3))
        self.assertEqual(stats.tail_rank(6), (83, 5))
        self.assertEqual(stats.tail_rank(15), (86, 13))
        self.assertEqual(stats.tail_rank(30), (83, 25))
        self.assertEqual(stats.tail_rank(100), (90, 90))
        self.assertEqual(stats.tail_rank(1000), (99, 990))

    def test_depends_on_count_only(self):
        self.assertEqual(stats.tail_rank(48), stats.tail_rank(48))
        self.assertEqual(stats.tail_rank(48), (83, 40))


class Union(unittest.TestCase):
    def test_disjoint_overlapping_nested_touching(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(stats.union_length([(0, 3), (2, 5)]), 5)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([(5, 6), (0, 2), (1, 3)]), 4)

    def test_empty_and_reversed_intervals_count_nothing(self):
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0.0)

    def test_clip_to_span(self):
        ivs = stats.clip([(-5, 2), (8, 20), (3, 4)], 0, 10)
        self.assertEqual(stats.union_length(ivs), 2 + 2 + 1)


def span(i, start, end, parent=-1, op=0, name="x"):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start_ms": start, "end_ms": end}


def job(span_id, start, end, tasks=1, run_ms=0, shuffle=0):
    return {"job": 0, "span": span_id, "start_ms": start, "end_ms": end,
            "tasks": tasks, "task_run_ms": run_ms, "shuffle_write_bytes": shuffle}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(span(0, 10, 50), []), 40)

    def test_overlapping_children_counted_once(self):
        kids = [span(1, 15, 30, 0), span(2, 25, 40, 0)]
        self.assertEqual(stats.self_time(span(0, 10, 50), kids), 40 - 25)

    def test_children_clipped_to_parent(self):
        kids = [span(1, 0, 20, 0), span(2, 45, 70, 0)]
        self.assertEqual(stats.self_time(span(0, 10, 50), kids), 40 - 10 - 5)


class PerLayer(unittest.TestCase):
    def raw(self):
        # op 0 untraced; op 1 traced with root span 0 and layer span 1
        return {
            "cores": 4,
            "ops": [
                {"i": 0, "kind": "a", "start_ms": 0, "end_ms": 1000, "items": 10, "ok": True,
                 "traced": False, "gc_ms": 0, "persisted_rdds": 0, "errors": []},
                {"i": 1, "kind": "a", "start_ms": 2000, "end_ms": 4000, "items": 10, "ok": True,
                 "traced": True, "gc_ms": 100, "persisted_rdds": 2, "errors": []},
            ],
            "spans": [span(0, 2000, 4000, op=1, name="op"),
                      span(1, 2100, 3900, parent=0, op=1, name="operators.knn_pruned")],
            "jobs": [job(1, 2200, 2600, tasks=4, run_ms=1200, shuffle=1048576),
                     job(1, 2500, 3000, tasks=4, run_ms=1600),
                     job(0, 3950, 3990, tasks=1, run_ms=40)],
            "kernels": {name: 1.0 for name, _ in stats.KERNELS},
        }

    def test_span_metrics(self):
        v = stats.per_layer(self.raw())
        self.assertAlmostEqual(v["operators.knn_pruned.self_s"], 1.8)
        self.assertEqual(v["operators.knn_pruned.jobs"], 2)
        self.assertEqual(v["operators.knn_pruned.tasks"], 8)
        self.assertAlmostEqual(v["operators.knn_pruned.task_run_s"], 2.8)
        # 1.8 s span minus the union 2200..3000 of its jobs
        self.assertAlmostEqual(v["operators.knn_pruned.outside_jobs_s"], 1.0)
        self.assertAlmostEqual(v["operators.knn_pruned.shuffle_write_mb"], 1.0)
        self.assertEqual(v["ml.kmeans_fit.jobs"], 0.0)

    def test_spark_metrics(self):
        v = stats.per_layer(self.raw())
        self.assertEqual(v["spark.jobs_per_op"], 3)
        self.assertAlmostEqual(v["spark.core_busy_frac"], 2840 / (2000 * 4))
        self.assertAlmostEqual(v["spark.outside_jobs_frac"], (2000 - 800 - 40) / 2000)
        self.assertAlmostEqual(v["spark.gc_s_per_op"], 0.1)
        self.assertEqual(v["spark.persisted_rdds_after_op"], 2)
        self.assertAlmostEqual(v["trace.items_per_s_traced"], 5.0)
        self.assertAlmostEqual(v["trace.items_per_s_untraced"], 10.0)
        self.assertAlmostEqual(v["trace.overhead_frac"], 0.5)

    def test_every_declared_metric_reported(self):
        raw = dict(self.raw(), trace=True, workload="search", seed=1, cycle=["a"],
                   ops_per_run=2, setup_s=[1.0], warm_up_s=1.0, setup_phases=[], loop_s=3.0,
                   input_digests=["d"], setup_errors=[])
        result, _ = stats.summarize(raw)
        self.assertEqual(set(result["metrics"]), {n for n, _ in stats.per_layer_units()})


class EndToEnd(unittest.TestCase):
    def test_metrics(self):
        ops = [{"i": i, "kind": "a", "start_ms": 0, "end_ms": 100 * (i + 1), "items": 2,
                "ok": i != 3, "traced": False, "gc_ms": 0, "persisted_rdds": 0, "errors": []}
               for i in range(30)]
        raw = {"ops": ops, "setup_s": [9.0, 2.0, 3.0], "warm_up_s": 1.0, "setup_phases": [],
               "loop_s": 50.0, "retained_heap_mb": 50.0, "trace": False,
               "workload": "w", "seed": 1, "cycle": ["a"], "ops_per_run": 30,
               "input_digests": ["d", "d", "d"], "setup_errors": []}
        result, record = stats.summarize(raw)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m["setup_s"], 4.0)
        self.assertAlmostEqual(m["latency_p50_s"], 1.55)
        self.assertAlmostEqual(m["latency_tail_s"], 2.5)  # p83 of 30: rank 25
        self.assertAlmostEqual(m["items_per_s"], 58 / 46.5)
        self.assertAlmostEqual(m["ok_ratio"], 29 / 30)
        self.assertEqual(record["latency_tail"], {"percentile": 83, "operations": 30, "beyond": 5})
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)

    def test_digest_mismatch_is_incorrect(self):
        ops = [{"i": 0, "kind": "a", "start_ms": 0, "end_ms": 10, "items": 1, "ok": True,
                "traced": False, "gc_ms": 0, "persisted_rdds": 0, "errors": []}]
        raw = {"ops": ops, "setup_s": [1.0], "warm_up_s": 1.0, "setup_phases": [], "loop_s": 1.0,
               "retained_heap_mb": 1.0, "trace": False,
               "workload": "w", "seed": 1, "cycle": ["a"], "ops_per_run": 1,
               "input_digests": ["d", "e"], "setup_errors": []}
        self.assertFalse(stats.summarize(raw)[0]["correct"])


if __name__ == "__main__":
    unittest.main()
