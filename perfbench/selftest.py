#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (no server needed):

    python3 perfbench/selftest.py

- the generator is deterministic in its seed, byte for byte;
- percentile, tail, pass and failed_ratio arithmetic;
- each workload's check accepts a correct result and rejects a corrupted
  one, and the measuring loop counts a corrupted result as failed;
- the metrics a run prints are the ones BENCHMARK.json declares.
"""
import json
import pathlib
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def tables(self, seed):
        return (gen.embedding_nodes(seed, 400, 8),
                gen.typed_rels(seed, 0, 100, 500),
                gen.plain_nodes(seed, 1, 300, id_base=7))

    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.digest(*self.tables(5)),
                         gen.digest(*self.tables(5)))
        self.assertEqual(gen.pair_schedule(5), gen.pair_schedule(5))
        self.assertEqual(sorted(gen.pair_schedule(5)),
                         list(range(len(gen.PAIRS))))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(gen.digest(*self.tables(5)),
                            gen.digest(*self.tables(6)))

    def test_labels_equally_sized(self):
        nodes = gen.embedding_nodes(3, 400, 8)
        labels = [x[0] for x in nodes.column("LABELS").to_pylist()]
        self.assertEqual([labels.count(x) for x in gen.LABELS], [100] * 4)
        self.assertEqual(sorted(nodes.column("ID").to_pylist()),
                         list(range(400)))

    def test_fixture_tables_deterministic(self):
        def small(seed):
            return gen.tpch_tables(seed, customers=50, suppliers=10,
                                   parts=30, orders=80, events=40)
        a, b, c = small(8), small(8), small(9)
        self.assertEqual(gen.digest(*a.values()), gen.digest(*b.values()))
        self.assertNotEqual(gen.digest(*a.values()), gen.digest(*c.values()))
        li = a["lineitem"]
        self.assertEqual(li.column("l_orderkey").to_pylist(),
                         sorted(li.column("l_orderkey").to_pylist()))
        self.assertEqual(set(li.column("l_orderkey").to_pylist()),
                         set(range(80)))
        self.assertEqual(a["nation"].schema.field("n_nationkey").type,
                         pa.int32())

    def test_gate_order_seeded(self):
        w1, w2 = workloads.Gates(4), workloads.Gates(4)
        orders = [w1.order(i) for i in range(20)]
        self.assertEqual(orders, [w2.order(i) for i in range(20)])
        for o in orders:  # every pass runs every gate once
            self.assertEqual(sorted(o), sorted(workloads.Gates.GATES))
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_embedding_values_exact(self):
        emb = gen.embedding_nodes(3, 40, 8).column("embedding") \
            .combine_chunks().flatten().to_numpy()
        self.assertTrue(np.array_equal(emb * 64, np.round(emb * 64)))


class StatsTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_percentile_with_few_samples(self):
        xs = list(range(1, 22))  # 21 samples: the 11th is the median
        self.assertEqual(stats.tail(xs), (11, 100.0 * 11 / 21))
        value, pct = stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12])
        self.assertEqual((value, pct), (6.5, 50.0))  # p17 < median
        self.assertEqual(stats.tail([3, 1, 2]), (2, 50.0))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(0, 40), 0.0)
        self.assertEqual(stats.failed_ratio(1, 4), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_pass_time_sums_kind_medians(self):
        s = [{"kind": "a", "latency_s": x} for x in (1.0, 3.0, 2.0)] + \
            [{"kind": "b", "latency_s": x} for x in (10.0, 20.0)]
        self.assertEqual(stats.pass_time(s), 2.0 + 15.0)

    def test_rate_is_median_of_request_rates(self):
        # 50, 40 and (a slow request) 1 rows/s -> median 40
        self.assertEqual(stats.rate([
            {"rows": r, "latency_s": t}
            for r, t in ((100, 2.0), (80, 2.0), (10, 10.0))]), 40.0)


class SmallEgress(workloads.Egress):
    N, DIM = 400, 8


class SmallKHop(workloads.KHop):
    N, E = 60, 150


def egress_result(wl, i, corrupt=None):
    """The batches a correct server returns for request i."""
    a, b = wl.pair(i)
    t = wl.nodes
    keep = np.isin(wl.label_by_id[t.column("ID").to_numpy()], [a, b])
    t = t.filter(pa.array(keep))
    emb = t.column("embedding").combine_chunks().flatten().to_numpy().copy()
    ids = t.column("ID").to_numpy().copy()
    if corrupt == "embedding":
        emb[17] += 1.0 / 64
    if corrupt == "row":
        ids, emb = ids[1:], emb[wl.DIM:]
    return [pa.record_batch([
        pa.array(ids), pa.ListArray.from_arrays(
            pa.array(np.arange(0, emb.size + 1, wl.DIM, dtype=np.int32)),
            pa.array(emb))], names=["ID", "embedding"])]


def khop_result(wl, i, corrupt=False):
    """Every (origin, src, dst) of the 2-hop sets, enumerated directly."""
    types = set(wl.types(i))
    e = [(s, d) for s, d, t in zip(*(wl.rels.column(c).to_pylist() for c in
                                     ("START_ID", "END_ID", "TYPE")))
         if t in types]
    nbrs = {}
    for s, d in e:
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    rows = sorted({(o, s, d) for o, ns in nbrs.items() for s, d in e
                   if s in ns or d in ns})
    if corrupt:
        rows = rows[:-1] + [rows[0]]  # a duplicate in place of a row
    o, s, d = zip(*rows)
    return [pa.record_batch([pa.array(o, pa.int64()), pa.array(s, pa.int64()),
                             pa.array(d, pa.int64())],
                            names=["origin", "src", "dst"])]


class ChecksTest(unittest.TestCase):
    def test_egress_check(self):
        wl = SmallEgress(11)
        for i in range(3):
            self.assertIsNone(wl.check(i, egress_result(wl, i)))
            self.assertIsNotNone(wl.check(i, egress_result(wl, i, "row")))
            self.assertIsNotNone(
                wl.check(i, egress_result(wl, i, "embedding")))

    def test_khop_golden_matches_direct_enumeration(self):
        wl = SmallKHop(12)
        for i in range(4):
            self.assertIsNone(wl.check(i, khop_result(wl, i)))
            self.assertIsNotNone(wl.check(i, khop_result(wl, i, True)))

    def test_gate_compare(self):
        want = pa.table({"id": [1, 2, 2], "d": [0.5, 1.0, 1.0]})
        same = pa.table({"d": [1.0, 0.5, 1.0], "id": [2, 1, 2]})
        self.assertIsNone(workloads.compare("g", same, want))
        for bad in (pa.table({"d": [1.0, 0.5, 1.125], "id": [2, 1, 2]}),
                    pa.table({"d": [1.0, 0.5], "id": [2, 1]}),
                    pa.table({"d": [1.0, 0.5, 0.5], "id": [2, 1, 1]}),
                    pa.table({"x": [1.0, 0.5, 1.0], "id": [2, 1, 2]})):
            self.assertIsNotNone(workloads.compare("g", bad, want))


class MetricNamesTest(unittest.TestCase):
    """The run prints exactly the metrics BENCHMARK.json declares."""

    def declared(self, key):
        doc = json.loads((ROOT / "BENCHMARK.json").read_text())
        return {m["name"]: m["unit"] for m in doc[key]}

    def test_end_to_end(self):
        s = [{"latency_s": 0.1, "first_s": 0.05, "rows": 10}]
        s[0]["kind"] = 0
        metrics, _ = run.end_to_end(s, 1, 0, 1.0, [0.5, 0.2, 0.3], 100.0,
                                    50.0)
        self.assertEqual({k: u for k, (_, u) in metrics.items()},
                         self.declared("end_to_end"))

    def test_per_layer(self):
        counters = dict.fromkeys([
            "spark.executions", "spark.shuffle_write_mb",
            "spark.executor_cpu_s", "spark.spill_mb", "spark.planning_s",
            "spark.jobs", "spark.stages", "spark.driver_gap_s", "spark.gc_s",
            "spark.blocks_peak_mb", "spark.blocks_mb", "streaming.batches",
            "streaming.trigger_s", "streaming.add_batch_s",
            "streaming.query_planning_s", "streaming.wal_commit_s",
            "streaming.state_commit_s"], 1.0)
        probes = dict.fromkeys([
            "ArrowIpc.encode_s", "ArrowIpc.decode_s",
            "FlightService.put_graph_part_s", "GraphOps.node_scan_s",
            "KHop.khop_edges_s"], 1.0)
        s = [{"latency_s": 0.1, "first_s": 0.05, "rows": 10}]
        metrics = run.per_layer(s, [0.1, 0.2], counters, counters, probes,
                                0.0, 0.0, 0)
        self.assertEqual({k: u for k, (_, u) in metrics.items()},
                         self.declared("per_layer"))


class FakeServer:
    """Stands in for the data plane: the workload's `request` is replaced,
    so no connection is made."""
    class Client:
        def close(self):
            pass

    def client(self):
        return self.Client(), None


class CorruptedResultCountsAsFailed(unittest.TestCase):
    def test_window_counts_corruption(self):
        wl = SmallEgress(21)

        def request(client, opts, i):
            corrupt = "embedding" if i % 3 == 0 else None
            return {"latency_s": 0.001, "first_s": 0.001, "rows": 1}, \
                egress_result(wl, i, corrupt)
        wl.request = request
        samples, failures, attempted = run.run_window(wl, FakeServer(), 0.3)
        self.assertGreater(attempted, 3)
        self.assertEqual(len(samples) + len(failures), attempted)
        self.assertEqual(len(failures),
                         sum(1 for i in range(attempted) if i % 3 == 0))
        self.assertTrue(all("checksum" in f for f in failures))
        self.assertGreater(stats.failed_ratio(len(failures), attempted), 0)

    def test_corrupted_gate_result_counts_as_failed(self):
        wl = workloads.Gates(22)
        want = pa.table({"id": [1, 2], "d": [3.0, 4.5]})
        wl.expected = {g: want for g in wl.GATES}
        base = ROOT / ".bench_build" / "selftest"

        def request(client, opts, i):
            outs = []
            for g in wl.order(i):
                out = base / f"{i:05d}-{g}"
                out.mkdir(parents=True)
                pq.write_table(want if i % 2 or g != wl.GATES[0] else
                               pa.table({"id": [1, 2], "d": [3.0, 4.625]}),
                               out / "part-0.parquet")
                outs.append((g, out))
            return {"latency_s": 0.001, "first_s": 0.001, "rows": 2}, outs
        wl.request = request
        shutil.rmtree(base, ignore_errors=True)
        try:
            samples, failures, attempted = run.run_window(
                wl, FakeServer(), 0.2)
            self.assertEqual(list(base.iterdir()), [])  # results removed
        finally:
            shutil.rmtree(base, ignore_errors=True)
        self.assertEqual(len(failures),
                         sum(1 for i in range(attempted) if i % 2 == 0))
        self.assertTrue(all("differ" in f for f in failures))

if __name__ == "__main__":
    duckdb.connect().close()  # fail fast if the oracle is unavailable
    unittest.main(verbosity=2)
