"""Seeded input generator for the data-plane workloads.

Every table is a pure function of (seed, stream, sizes): the same seed
gives byte-identical Arrow IPC streams (see `ipc_bytes`). Values are
chosen so that checksums are exact in float64 whatever order the server
returns rows in: embedding components and weights are small multiples of
a power of two.
"""
import hashlib
import itertools

import numpy as np
import pyarrow as pa

LABELS = ["L0", "L1", "L2", "L3"]
REL_TYPES = ["T0", "T1", "T2", "T3"]
# label pairs / type pairs a request may ask for: 2 of 4, equally sized
PAIRS = list(itertools.combinations(range(4), 2))


def rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def labels_array(idx):
    """list<string> column with one label per row."""
    values = pa.array(np.array(LABELS, dtype=object)[idx], pa.string())
    offsets = pa.array(np.arange(len(idx) + 1, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, values)


def embedding_nodes(seed, n, dim):
    """Egress graph nodes: ID (a permutation of 0..n-1), one of four
    equally sized labels, and a float[dim] embedding of multiples of
    1/64 in [-2, 2)."""
    assert n % len(LABELS) == 0, "n must split evenly over the labels"
    r = rng(seed, 1)
    ids = r.permutation(n).astype(np.int64)
    label = (r.permutation(n) % len(LABELS)).astype(np.int64)
    emb = r.integers(-128, 128, size=(n, dim), dtype=np.int16)
    emb = emb.astype(np.float32) / np.float32(64.0)
    return pa.table({
        "ID": pa.array(ids),
        "LABELS": labels_array(label),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), dim),
    })


def typed_rels(seed, stream, n_nodes, n_rels, id_base=0):
    """Relationships between nodes id_base..id_base+n_nodes-1, each of one
    of four equally likely types, with an exact weight in eighths."""
    r = rng(seed, 2, stream)
    return pa.table({
        "START_ID": pa.array(
            id_base + r.integers(0, n_nodes, n_rels, dtype=np.int64)),
        "END_ID": pa.array(
            id_base + r.integers(0, n_nodes, n_rels, dtype=np.int64)),
        "TYPE": pa.array(np.array(REL_TYPES, dtype=object)[
            r.integers(0, len(REL_TYPES), n_rels)], pa.string()),
        "weight": pa.array(r.integers(0, 64, n_rels) / 8.0, pa.float64()),
    })


def plain_nodes(seed, stream, n, id_base=0):
    """Nodes with scalar properties: score (exact eighths) and rank."""
    r = rng(seed, 3, stream)
    return pa.table({
        "ID": pa.array(id_base + np.arange(n, dtype=np.int64)),
        "LABELS": labels_array(r.integers(0, len(LABELS), n)),
        "score": pa.array(r.integers(0, 800, n) / 8.0, pa.float64()),
        "rank": pa.array(r.integers(0, 1 << 20, n, dtype=np.int64)),
    })


def pair_schedule(seed):
    """The order in which requests cycle through PAIRS (indexes), a seeded
    permutation: every window covers the pairs about equally, so result
    sizes do not depend on which pairs a short window happened to draw."""
    return rng(seed, 4).permutation(len(PAIRS)).tolist()


def ipc_bytes(table):
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def digest(*tables):
    h = hashlib.sha256()
    for t in tables:
        h.update(ipc_bytes(t))
    return h.hexdigest()


def write_streams(table, path_prefix, parts):
    """`parts` Arrow IPC stream files `<prefix>-<i>.arrows`, row-sliced."""
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        with pa.OSFile(f"{path_prefix}-{i:03d}.arrows", "wb") as f:
            with pa.ipc.new_stream(f, table.schema) as w:
                w.write_table(table.slice(lo, hi - lo))


# ------------------------------------------------- gate fixture tables
def _ts(r, n, start, days):
    """n timestamps (µs) in whole seconds within `days` of `start`."""
    base = np.datetime64(start, "s").astype(np.int64)
    return pa.array((base + r.integers(0, days * 86400, n)) * 1_000_000,
                    pa.timestamp("us"))


def _eighths(r, lo, hi, n):
    """Doubles in [lo, hi) that are multiples of 1/8: sums are exact in
    any order, so aggregated results match the oracle bit for bit."""
    return pa.array(r.integers(lo * 8, hi * 8, n) / 8.0, pa.float64())


def _pick(r, values, n):
    return pa.array(np.array(values, dtype=object)[
        r.integers(0, len(values), n)], pa.string())


def tpch_tables(seed, customers=600, suppliers=100, parts=400, orders=3000,
                events=3000):
    """The TPC-H-shaped tables the gates read (same names, columns and
    types as the program's test fixtures), as a {name: table} dict. Keys
    run from 0; every order has 1 to 7 line items."""
    r = rng(seed, 5)
    i32 = pa.int32()
    nation_keys = np.arange(25, dtype=np.int32)
    lines = r.integers(1, 8, orders)
    n_li = int(lines.sum())
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array([f"REGION_{i}" for i in range(5)])}),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(r.integers(0, 5, 25).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
            "c_nationkey": pa.array(r.integers(0, 25, customers), i32),
            "c_acctbal": _eighths(r, -1000, 10000, customers),
            "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], customers)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
            "s_nationkey": pa.array(r.integers(0, 25, suppliers), i32),
            "s_acctbal": _eighths(r, -1000, 10000, suppliers)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(parts)]),
            "p_brand": pa.array([f"Brand#{i % 25 + 1}" for i in range(parts)]),
            "p_type": _pick(r, ["ECONOMY", "STANDARD", "PROMO", "LARGE"],
                            parts),
            "p_size": pa.array(r.integers(1, 51, parts), i32),
            "p_retailprice": _eighths(r, 900, 2000, parts)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, customers, orders)),
            "o_orderstatus": _pick(r, ["F", "O", "P"], orders),
            "o_totalprice": _eighths(r, 1000, 400000, orders),
            "o_orderdate": _ts(r, orders, "1995-01-01", 1500),
            "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], orders)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(np.repeat(np.arange(orders, dtype=np.int64),
                                             lines)),
            "l_partkey": pa.array(r.integers(0, parts, n_li)),
            "l_suppkey": pa.array(r.integers(0, suppliers, n_li)),
            "l_linenumber": pa.array(np.concatenate(
                [np.arange(1, k + 1) for k in lines]).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": _eighths(r, 900, 100000, n_li),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(r, ["F", "O"], n_li),
            "l_shipdate": _ts(r, n_li, "1995-01-01", 1600)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": _ts(r, events, "2024-01-01", 30),
            "user_id": pa.array(r.integers(0, 100, events)),
            "event_type": _pick(r, ["view", "click", "purchase", "error",
                                    "search"], events),
            "value": _eighths(r, 0, 50, events),
            "props": pa.array([f'{{"k": {k}}}'
                               for k in r.integers(0, 100, events)])}),
    }


def write_parquet(tables, directory):
    """One `<name>.parquet` file per table."""
    import pyarrow.parquet as pq
    directory.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, directory / f"{name}.parquet")
