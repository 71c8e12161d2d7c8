"""Tests for the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        for n in range(20, 400):
            p = metrics.tail_percentile(n)
            rank = math.ceil(p * n / 100)
            self.assertGreaterEqual(n - rank, 10, n)
            if p < 90:  # the next percentile up would leave fewer than ten
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertLess(metrics.tail_percentile(99), 90)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 100), 3.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(metrics.union_length([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertAlmostEqual(metrics.union_length([(1, 3), (2, 5)], 2.5, 4), 1.5)
        self.assertAlmostEqual(metrics.union_length([(1, 9), (2, 3)], 0, 10), 8)
        self.assertEqual(metrics.union_length([], 0, 1), 0)

    def test_driver_time_is_wall_minus_union_of_jobs(self):
        # exec span 10..20; jobs 11..13 and 12..15 overlap, 19..25 runs past the end
        jobs = [(11, 13), (12, 15), (19, 25)]
        self.assertAlmostEqual(metrics.self_time((10, 20), jobs), 10 - 4 - 1)

    def test_self_time_without_children_is_duration(self):
        self.assertAlmostEqual(metrics.self_time((2.0, 2.5), []), 0.5)


class Attribution(unittest.TestCase):
    def test_events_go_to_the_window_holding_them(self):
        windows = [(0.0, 1.0), (1.5, 2.0), (3.0, 4.0)]
        got = metrics.attribute([0.5, 1.2, 1.5, 3.9, 5.0, -1.0], windows)
        self.assertEqual(got, [0, None, 1, 2, None, None])

    def test_millisecond_stamps_get_slack(self):
        # Spark truncates to whole ms: a job submitted 0.4 ms after the query
        # started may carry a stamp 0.6 ms before it.
        self.assertEqual(metrics.attribute([9.9994], [(10.0, 11.0)]), [0])
        self.assertEqual(metrics.attribute([11.0009], [(10.0, 11.0)]), [0])


def _result():
    """A traced run: a warm-up-like untraced pass 0, a traced pass 1 and an
    untraced pass 2, each of two queries."""
    def sample(p, traced, op, t0):
        return {"pass": p, "traced": traced, "op": op, "t0": t0, "t1": t0 + 0.2,
                "t2": t0 + 1.0, "t3": t0 + 1.1, "error": None}
    return {
        "workload": "w", "cpus": 4,
        "samples": [sample(0, False, "qa", 0.0), sample(0, False, "qb", 1.2),
                    sample(1, True, "qa", 3.0), sample(1, True, "qb", 4.2)],
        "passes": [{"pass": 0, "traced": False, "start": 0.0, "end": 2.0},
                   {"pass": 1, "traced": True, "start": 3.0, "end": 5.5,
                    "tables_load_ms": 12.5, "sink_bytes": 0, "sink_files": 0},
                   {"pass": 2, "traced": False, "start": 6.0, "end": 8.2}],
        "jobs": [{"id": 1, "start": 3.1, "end": 3.15},   # qa, during build
                 {"id": 2, "start": 3.5, "end": 3.9},    # qa, during exec
                 {"id": 3, "start": 4.5, "end": 5.0}],   # qb, during exec
        "stages": [{"id": 1, "end": 3.9, "tasks": 4, "run_ms": 800, "gc_ms": 10,
                    "shuffle_read": 0, "shuffle_write": 1048576, "spill": 0},
                   {"id": 2, "end": 5.0, "tasks": 2, "run_ms": 400, "gc_ms": 0,
                    "shuffle_read": 1048576, "shuffle_write": 0, "spill": 0}],
        "blocks": [{"at": 4.05, "bytes": 2097152}],     # arrives while draining qa
        "plans": [{"at": 3.95, "agg_s": 0.25}, {"at": 5.1, "scan_s": 0.1}],
    }


class Layers(unittest.TestCase):
    def test_per_query_attribution(self):
        qa, qb = metrics.per_query_layers(_result())
        self.assertEqual((qa["op"], qb["op"]), ("qa", "qb"))
        self.assertEqual(qa["layers"]["exec.jobs"], 2)
        self.assertEqual(qa["layers"]["queries.build_jobs"], 1)
        self.assertAlmostEqual(qa["layers"]["exec.driver_s"], 0.8 - 0.4)
        self.assertAlmostEqual(qa["layers"]["queries.build_driver_s"], 0.2 - 0.05)
        self.assertEqual(qa["layers"]["Pinned.blocks"], 1)
        self.assertAlmostEqual(qa["layers"]["sqlop.agg_s"], 0.25)
        self.assertAlmostEqual(qb["layers"]["exchange.shuffle_read_mb"], 1.0)
        self.assertEqual(qb["layers"]["queries.build_jobs"], 0)

    def test_span_tree(self):
        sp = {s["name"] + (f"@{s['start']}" if s["name"] in ("qa", "build", "exec") else ""): s
              for s in metrics.spans(_result())}
        by_id = {s["id"]: s for s in sp.values()}
        self.assertEqual(by_id[sp["job 1"]["parent"]]["name"], "build")
        self.assertEqual(by_id[sp["job 2"]["parent"]]["name"], "exec")
        self.assertEqual(by_id[by_id[sp["job 3"]["parent"]]["parent"]]["name"], "qb")
        # exec of traced qa runs 3.2..4.0 with job 2 (3.5..3.9) inside it
        self.assertAlmostEqual(sp["exec@3.2"]["self_s"], 0.8 - 0.4)
        self.assertAlmostEqual(sp["qa@3.0"]["self_s"], 0.0)
        self.assertAlmostEqual(sp["pass 1"]["self_s"], 2.5 - 2.0)

    def test_pass_sums_and_overhead(self):
        res = _result()
        out = metrics.per_layer(res, metrics.per_query_layers(res))
        self.assertEqual(out["exec.jobs"], 3)
        self.assertAlmostEqual(out["exec.task_s"], 1.2)
        self.assertAlmostEqual(out["exec.core_util"], 1.2 / (2.0 * 4))
        self.assertAlmostEqual(out["Tables.load_ms"], 12.5)
        self.assertAlmostEqual(out["trace.overhead"], 2.5 / 2.2 - 1)

    def test_failed_samples_miss_every_latency_limit(self):
        res = _result()
        res.update(setup_end=1.0, peak_rss_kb=2048)
        for s in res["samples"][1:]:
            s["error"] = {"class": "X"}
        res["samples"] *= 5  # 20 samples: enough for a p50 tail
        e2e, counts = metrics.end_to_end(res, 0.0, 2)
        self.assertEqual((counts["samples"], counts["tail_percentile"]), (20, 50))
        self.assertEqual(e2e["query_p50_s"], math.inf)
        self.assertEqual(counts["tail_s"], math.inf)
        self.assertAlmostEqual(e2e["pass_s"], 2.2)
        self.assertAlmostEqual(e2e["setup_s"], 1.0)


if __name__ == "__main__":
    unittest.main()
