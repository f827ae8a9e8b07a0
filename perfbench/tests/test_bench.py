"""Self-tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen    # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 41)), 0.75), 30)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(1, 40)), 0.75)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(1, 100)), 0.9)

    def test_nearest_rank_ignores_order(self):
        xs = [float(x) for x in np.random.default_rng(0).permutation(200)]
        self.assertEqual(stats.percentile(xs, 0.5), 99.0)
        self.assertEqual(stats.percentile(xs, 0.75), 149.0)
        self.assertEqual(sum(x > stats.percentile(xs, 0.75) for x in xs), 50)


class DriverOnlyTime(unittest.TestCase):

    def test_union_of_overlapping_jobs(self):
        span = {"start_ms": 0, "end_ms": 10_000, "wall_s": 10.0}
        jobs = [{"start_ms": 1000, "end_ms": 3000}, {"start_ms": 2000, "end_ms": 5000},
                {"start_ms": 2500, "end_ms": 2600}, {"start_ms": 7000, "end_ms": 8000}]
        # covered: [1000, 5000] and [7000, 8000] = 5 s
        self.assertAlmostEqual(stats.driver_only_s(span, jobs), 5.0)

    def test_jobs_clipped_to_the_span(self):
        span = {"start_ms": 1000, "end_ms": 2000, "wall_s": 1.0}
        jobs = [{"start_ms": 0, "end_ms": 1500}, {"start_ms": 1900, "end_ms": 9000}]
        self.assertAlmostEqual(stats.driver_only_s(span, jobs), 0.4)

    def test_no_jobs_is_all_driver(self):
        span = {"start_ms": 0, "end_ms": 300, "wall_s": 0.3}
        self.assertAlmostEqual(stats.driver_only_s(span, []), 0.3)

    def test_layer_totals_charge_jobs_by_group(self):
        spans = [{"group": "a/r0", "start_ms": 0, "end_ms": 2000, "wall_s": 2.0},
                 {"group": "a/r1", "start_ms": 3000, "end_ms": 4000, "wall_s": 1.0}]
        job = {"tasks": 2, "cpu_s": 0.5, "gc_s": 0.1, "shuffle_write_bytes": 2e6, "spill_bytes": 0}
        jobs = [dict(job, group="a/r0", start_ms=0, end_ms=1000),
                dict(job, group="a/r1", start_ms=3000, end_ms=3500),
                dict(job, group="b/r0", start_ms=0, end_ms=2000)]
        t = stats.layer_totals(spans, jobs)
        self.assertEqual(t["jobs"], 2)
        self.assertAlmostEqual(t["busy_s"], 3.0)
        self.assertAlmostEqual(t["driver_s"], 1.5)
        self.assertAlmostEqual(t["cpu_s"], 1.0)
        self.assertAlmostEqual(t["shuffle_mb"], 4.0)


def _table_equal(a, b):
    return all(a[k].equals(b[k]) for k in a) and a.keys() == b.keys()


class SeededInputs(unittest.TestCase):

    def setUp(self):
        self.base = gen.star(7, 60, 80, 300)

    def test_same_seed_same_replica(self):
        self.assertTrue(_table_equal(gen.replicate(self.base, 3, 1), gen.replicate(self.base, 3, 1)))

    def test_other_seed_other_replica(self):
        a, b = gen.replicate(self.base, 3, 1), gen.replicate(self.base, 3, 2)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        # same rows, other order
        key = ["l_orderkey", "l_linenumber"]
        self.assertTrue(a["lineitem"].sort_by([(k, "ascending") for k in key])
                        .equals(b["lineitem"].sort_by([(k, "ascending") for k in key])))

    def test_same_seed_same_requests(self):
        block = gen.request_block(5, range(100), range(1000, 1010), 20, 1.0)
        self.assertEqual(block, gen.request_block(5, range(100), range(1000, 1010), 20, 1.0))
        self.assertEqual(gen.request_stream(block, 1, 3), gen.request_stream(block, 1, 3))
        self.assertNotEqual(gen.request_stream(block, 1, 3), gen.request_stream(block, 2, 3))

    def test_stream_replays_the_block_in_passes(self):
        block = gen.request_block(5, range(100), range(1000, 1010), 20, 1.0)
        stream = gen.request_stream(block, 1, 3)
        self.assertEqual(len(stream), 60)
        for p in range(3):
            self.assertEqual(sorted(map(str, stream[20 * p:20 * (p + 1)])), sorted(map(str, block)))
        self.assertNotEqual(stream[:20], stream[20:40])

    def test_request_shape(self):
        unknown = set(range(1000, 1010))
        block = gen.request_block(5, range(100), sorted(unknown), 400, 1.0)
        self.assertTrue(all(1 <= len(ids) <= 64 and len(set(ids)) == len(ids) for _, ids in block))
        rankers = [r for r, _ in block]
        self.assertEqual(rankers.count("cooccur"), 200)
        self.assertEqual(rankers.count("twotower"), 200)
        ids = [u for _, us in block for u in us]
        share = sum(u in unknown for u in ids) / len(ids)
        self.assertGreater(share, 0.05)
        self.assertLess(share, 0.15)

    def test_replica_keys_stay_consistent(self):
        r = gen.replicate(self.base, 4, 3)
        for name, t in r.items():
            self.assertEqual(t.num_rows, 4 * self.base[name].num_rows)
        orders = set(r["orders"].column("o_orderkey").to_pylist())
        parts = set(r["part"].column("p_partkey").to_pylist())
        custs = set(r["customer"].column("c_custkey").to_pylist())
        self.assertEqual(len(orders), r["orders"].num_rows)
        self.assertTrue(set(r["lineitem"].column("l_orderkey").to_pylist()) <= orders)
        self.assertTrue(set(r["lineitem"].column("l_partkey").to_pylist()) <= parts)
        self.assertTrue(set(r["orders"].column("o_custkey").to_pylist()) <= custs)
        # a lineitem's part and its order's customer come from the same copy
        o = r["orders"].to_pydict()
        cust_of = dict(zip(o["o_orderkey"], o["o_custkey"]))
        n_o, n_p, n_c = (self.base[t].num_rows for t in ("orders", "part", "customer"))
        li = r["lineitem"].to_pydict()
        for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
            self.assertEqual(ok // n_o, pk // n_p)
            self.assertEqual(ok // n_o, cust_of[ok] // n_c)

    def test_sources_follow_the_star(self):
        src = gen.sources(self.base, 9)
        tx = src["transactions"]
        self.assertEqual(tx.num_rows, self.base["lineitem"].num_rows)
        self.assertEqual(src["images"].num_rows, (self.base["part"].num_rows + 1) // 2)
        self.assertFalse(tx.equals(gen.sources(self.base, 10)["transactions"]))


if __name__ == "__main__":
    unittest.main()
