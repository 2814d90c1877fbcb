"""The workloads. The data-plane ones are driven through the stock
pyarrow.flight client with the reference client's lifecycle: gds.write.*
-> DoPut on the ticket to load their graph, DoAction -> ticket ->
job.status polls -> DoGet for each request. `gates` runs the program's
loop and stream gates in the server's own Spark session.

Each workload generates its inputs from the seed, loads what it serves,
issues requests, and checks each result after its timing has ended.
"""
import json
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.flight as flight

import gen

POLL_S = 0.005  # job.status poll interval


# ------------------------------------------------------------ lifecycle
def submit(client, opts, atype, body):
    res = list(client.do_action(
        flight.Action(atype, json.dumps(body).encode()), opts))
    return flight.Ticket.deserialize(res[0].body.to_pybytes())


def wait_job(client, opts, ticket):
    """Poll job.status until the job produces; returns the poll count."""
    polls = 0
    while True:
        res = list(client.do_action(
            flight.Action("job.status", ticket.serialize()), opts))
        polls += 1
        status = res[0].body.to_pybytes().decode()
        if status in ("PRODUCING", "COMPLETE"):
            return polls
        if status not in ("PENDING", "INITIALIZING"):
            raise RuntimeError(f"job reached {status}")
        time.sleep(POLL_S)


def read(client, opts, atype, body):
    """One read request; returns (timings, batches)."""
    t0 = time.perf_counter()
    ticket = submit(client, opts, atype, body)
    t_ticket = time.perf_counter()
    polls = wait_job(client, opts, ticket)
    t_ready = time.perf_counter()
    reader = client.do_get(ticket, opts)
    batches, t_first = [], None
    while True:
        try:
            chunk = reader.read_chunk()
        except StopIteration:
            break
        if t_first is None:
            t_first = time.perf_counter()
        batches.append(chunk.data)
    t_end = time.perf_counter()
    t_first = t_first or t_end
    rows = sum(b.num_rows for b in batches)
    return {
        "latency_s": t_end - t0, "first_s": t_first - t0, "rows": rows,
        "wait_s": t_ready - t_ticket, "polls": polls,
        "get_first_s": t_first - t_ready, "stream_s": t_end - t_first,
        "batches": len(batches), "bytes": sum(b.nbytes for b in batches),
    }, batches


def put(client, opts, atype, body, table):
    """gds.write.* action, then DoPut on its ticket; returns (s, ack)."""
    t0 = time.perf_counter()
    ticket = submit(client, opts, atype, body)
    writer, reader = client.do_put(
        flight.FlightDescriptor.for_command(ticket.serialize()),
        table.schema, opts)
    writer.write_table(table)
    writer.done_writing()
    ack = int(reader.read().to_pybytes())
    writer.close()
    return time.perf_counter() - t0, ack


def put_graph(client, opts, graph, nodes, rels):
    """Write both halves of a graph; returns (timings, acks)."""
    t_nodes, ack_nodes = put(client, opts, "gds.write.nodes", {
        "db": "graft", "graph": graph, "id_field": "ID",
        "labels_field": "LABELS"}, nodes)
    t_rels, ack_rels = put(client, opts, "gds.write.relationships", {
        "db": "graft", "graph": graph, "source_field": "START_ID",
        "target_field": "END_ID", "type_field": "TYPE"}, rels)
    return (t_nodes, t_rels), (ack_nodes, ack_rels)


def gds_read(graph, rtype, properties=(), filters=(), **extra):
    return dict({"db": "graft", "graph": graph, "type": rtype,
                 "node_id": "", "properties": list(properties),
                 "filters": list(filters)}, **extra)


def column(batches, name):
    return pa.chunked_array([b.column(name) for b in batches],
                            type=batches[0].schema.field(name).type) \
        if batches else pa.chunked_array([], pa.int64())


# ------------------------------------------------------------ workloads
class Workload:
    graph = None
    # untimed requests before the window: latency keeps falling for a
    # minute or more after start while the JIT compiles the hot paths
    warmup_requests = 20
    issued = 0  # requests issued so far; indexes the seeded schedule

    def __init__(self):
        self.puts = []  # seconds of each gds.write + DoPut of the loads

    def load(self, srv):
        """(Re)load the graph the workload serves; returns seconds."""
        client, opts = srv.client()
        try:
            puts, acks = put_graph(
                client, opts, self.graph, self.nodes, self.rels)
        finally:
            client.close()
        if acks != (self.nodes.num_rows, self.rels.num_rows):
            raise RuntimeError(f"load acked {acks}")
        self.puts += puts
        return sum(puts)

    def kind(self, i):
        """Which of the workload's distinct requests request i is."""
        return self.schedule[i % len(self.schedule)]


class Egress(Workload):
    """Wide rows: ID + float[128] embedding, 2 of 4 equal labels each."""
    name = "egress"
    warmup_requests = 50
    graph = "egress"
    N, DIM = 32_000, 128

    def __init__(self, seed):
        super().__init__()
        self.nodes = gen.embedding_nodes(seed, self.N, self.DIM)
        self.rels = gen.typed_rels(seed, 0, self.N, self.N // 10)
        self.schedule = gen.pair_schedule(seed)
        ids = self.nodes.column("ID").to_numpy()
        label = np.array([gen.LABELS.index(x[0]) for x in
                          self.nodes.column("LABELS").to_pylist()])
        emb = self.nodes.column("embedding").combine_chunks().flatten() \
            .to_numpy().reshape(self.N, self.DIM)
        self.label_by_id = np.empty(self.N, np.int64)
        self.label_by_id[ids] = label
        self.rowsum_by_id = np.empty(self.N, np.float64)
        self.rowsum_by_id[ids] = emb.astype(np.float64).sum(axis=1)

    def pair(self, i):
        return gen.PAIRS[self.kind(i)]

    def request(self, client, opts, i):
        a, b = self.pair(i)
        return read(client, opts, "gds.read", gds_read(
            self.graph, "node", ["embedding"],
            [gen.LABELS[a], gen.LABELS[b]]))

    def check(self, i, batches):
        a, b = self.pair(i)
        got_ids = column(batches, "ID").to_numpy()
        ids = np.sort(got_ids)
        want = np.sort(np.nonzero(np.isin(self.label_by_id, [a, b]))[0])
        if not np.array_equal(ids, want):
            return f"egress ids differ ({len(ids)} vs {len(want)} rows)"
        emb = pc.list_flatten(column(batches, "embedding")).to_numpy()
        if emb.size != got_ids.size * self.DIM:
            return "egress embedding width differs"
        sums = emb.reshape(-1, self.DIM).astype(np.float64).sum(axis=1)
        if not np.array_equal(sums, self.rowsum_by_id[got_ids]):
            return "egress embedding checksum differs"
        return None


class KHop(Workload):
    """Narrow rows, many of them: gds.read type=khop, k=2, 2 of 4 rel
    types per request; checked against the golden 2-hop edge set."""
    name = "khop"
    graph = "khop"
    N, E = 10_000, 16_000

    def __init__(self, seed):
        super().__init__()
        self.nodes = gen.plain_nodes(seed, 0, self.N)
        self.rels = gen.typed_rels(seed, 1, self.N, self.E)
        self.schedule = gen.pair_schedule(seed)
        self.expected = golden_khop(self.rels)

    def types(self, i):
        a, b = gen.PAIRS[self.kind(i)]
        return [gen.REL_TYPES[a], gen.REL_TYPES[b]]

    def request(self, client, opts, i):
        return read(client, opts, "gds.read", gds_read(
            self.graph, "khop", filters=self.types(i), k=2))

    def check(self, i, batches):
        got = khop_digest(*(column(batches, c).to_numpy()
                            for c in ("origin", "src", "dst")))
        want = self.expected[tuple(self.types(i))]
        return None if got == want else \
            f"khop digest differs: {got} vs {want}"


class Gates(Workload):
    """The program's loop and stream gates (`SparkEntry.queries`), run in
    the server's Spark session one at a time on seeded TPC-H-shaped
    fixtures, each result checked against the gate's own DuckDB oracle
    (`SparkEntry.oracleSql`). A request is one pass: every gate once, in
    a seeded order."""
    name = "gates"
    # a loop gate (rounds with per-round checkpoints) and a stream gate
    # (micro-batches from the Flight stream source, offset and commit
    # logs, a state store); each takes 1 to 3 s, mostly fixed costs.
    # Each gate's main input table: its rows are the gate's `rows`, so
    # rows_per_s does not depend on how many rows a seed's result has.
    INPUTS = {"sssp_bf": "lineitem", "stream_flight_ingest": "events"}
    GATES = list(INPUTS)
    # the first pass takes 3-4 times as long as the third; later ones
    # keep falling slowly
    warmup_requests = 3

    def __init__(self, seed):
        super().__init__()
        self.seed = seed
        self.tables = gen.tpch_tables(seed)
        # for the traced run's layer probes only
        self.nodes = gen.plain_nodes(seed, 0, 10_000)
        self.rels = gen.typed_rels(seed, 1, 10_000, 16_000)
        self.expected = None
        self.srv = self.dir = None
        self.loads = 0

    def kind(self, i):
        return "pass"

    def order(self, i):
        """The gates of pass i, in the seeded order."""
        return [self.GATES[j] for j in gen.rng(self.seed, 6, i).permutation(
            len(self.GATES))]

    def load(self, srv):
        """Write the fixtures to a new directory and read the gates' input
        tables once through the program; the first call also evaluates
        the oracles."""
        self.srv = srv
        if self.expected is None:
            self.expected = oracle_results(srv, self.GATES, self.tables)
        self.loads += 1
        d = srv.work / f"fixtures-{self.loads}"
        t0 = time.perf_counter()
        gen.write_parquet(self.tables, d)
        srv.request({"op": "load", "dir": str(d),
                     "tables": sorted(set(self.INPUTS.values()))})
        self.dir = d
        return time.perf_counter() - t0

    def request(self, client, opts, i):
        """One pass. Its latency is the sum of the gates' times through
        their written results, `first_s` the sum of the times to their
        result frames."""
        sample = {"latency_s": 0.0, "first_s": 0.0, "rows": 0}
        outs = []
        for name in self.order(i):
            out = self.srv.work / "results" / f"{i:05d}-{name}"
            t = self.srv.request({"op": "gate", "name": name,
                                  "dir": str(self.dir), "out": str(out)},
                                 timeout=170)
            sample["latency_s"] += t["seconds"]
            sample["first_s"] += t["ready_s"]
            sample["rows"] += self.tables[self.INPUTS[name]].num_rows
            outs.append((name, out))
        return sample, outs

    def check(self, i, outs):
        try:
            for name, out in outs:
                err = compare(name, read_result(out), self.expected[name])
                if err is not None:
                    return err
            return None
        finally:
            for _, out in outs:
                shutil.rmtree(out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Egress, KHop, Gates)}


# ------------------------------------------------------------ gate oracle
def oracle_results(srv, names, tables):
    """Each gate's oracle SQL (from the program) evaluated by DuckDB over
    the fixture tables."""
    sql = srv.request({"op": "oracle", "names": names})
    con = duckdb.connect()
    for t, tab in tables.items():
        con.register(t, tab)
    out = {}
    for n in names:
        out[n] = con.execute(sql[n]).arrow()
        if out[n].num_rows == 0:
            raise RuntimeError(f"the fixtures give {n} an empty result")
    con.close()
    return out


def read_result(out):
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT * FROM read_parquet('{out}/*.parquet')").arrow()
    finally:
        con.close()


def compare(name, got, want):
    """None if `got` holds exactly `want`'s rows (as a multiset, columns
    matched by name), else what differs."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"{name}: columns {got.column_names} != {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"{name}: {got.num_rows} rows != {want.num_rows}"
    cols = ", ".join(f'"{c}"' for c in sorted(want.column_names))
    con = duckdb.connect()
    try:
        con.register("got", got)
        con.register("want", want)
        extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                            f"EXCEPT ALL SELECT {cols} FROM want)").fetchone()
    finally:
        con.close()
    return None if extra[0] == 0 else \
        f"{name}: {extra[0]} rows differ from the oracle"


# ------------------------------------------------------------ khop oracle
def khop_digest(origin, src, dst):
    """Order-free digest of an (origin, src, dst) edge set: row count and
    sums of each column and of each pairwise product (exact in int64 for
    ids below 2^20 and fewer than 2^20 rows)."""
    o, s, d = (np.asarray(x, np.int64) for x in (origin, src, dst))
    return (int(o.size), int(o.sum()), int(s.sum()), int(d.sum()),
            int((o * s).sum()), int((o * d).sum()), int((s * d).sum()))


def golden_khop(rels):
    """The golden 2-hop semantics (KHop.scala): for every origin O with an
    edge in the selected types, the distinct edges (s, d) of those types
    with s or d an undirected neighbour of O. Computed by DuckDB, one
    digest per type pair."""
    con = duckdb.connect()
    con.register("rels", rels)
    out = {}
    for a, b in gen.PAIRS:
        types = (gen.REL_TYPES[a], gen.REL_TYPES[b])
        row = con.execute("""
            WITH e AS (SELECT START_ID AS s, END_ID AS d FROM rels
                       WHERE TYPE IN (?, ?)),
            adj AS (SELECT s AS o, d AS n FROM e UNION SELECT d, s FROM e),
            k AS (SELECT adj.o, e.s, e.d FROM adj JOIN e ON e.s = adj.n
                  UNION SELECT adj.o, e.s, e.d FROM adj JOIN e ON e.d = adj.n)
            SELECT count(*), sum(o), sum(s), sum(d), sum(o * s), sum(o * d),
                   sum(s * d) FROM k""", list(types)).fetchone()
        out[types] = tuple(int(x or 0) for x in row)
    con.close()
    return out
