#!/usr/bin/env python3
"""The repository benchmark: the Flight data plane end to end.

    python3 perfbench/run.py --workload egress|khop|gates \
        --seed N --seconds S --trace 0|1

Builds the program from source (cached in .bench_build/), starts a
BenchServer (FlightGrpc.Server over Spark local[nproc]), generates the
workload's inputs from the seed, loads them, warms up for a fixed number
of requests, and drives one closed-loop pyarrow.flight client (or, for
`gates`, the program's gates in the server's session) for S seconds.
Every result is checked after its timing ends; a wrong result counts as
failed. The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 splits the window
into four blocks, untraced and traced in the order U T T U, with the
benchmark's Spark, query-execution and streaming listeners attached only
in the traced ones; then it times direct calls into each layer, and
reports the per-layer metrics (see README.md).
"""
import argparse
import json
import os
import pathlib
import platform
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

import gen  # noqa: E402
import server as srvmod  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = HERE.parent
LOADS = 5  # set-up repetitions; setup_s and load_s take their median
# the warm-up is a number of requests (Workload.warmup_requests), so each
# run starts its window at the same point of the JIT's warm-up however
# fast the host is at the time; a host too slow for it stops here
WARMUP_CAP_S = 60.0
# traced (T) and untraced (U) blocks of a --trace 1 window: each pair
# (U T, T U) is compared, and the order cancels steady warm-up drift
TRACE_BLOCKS = "UTTU"


def run_window(wl, srv, seconds, requests=None):
    """Closed loop, one client: the next request is issued when the
    previous one (and its check) is done, until `seconds` have passed or,
    if `requests` is given, that many have been issued; a window holds at
    least one request. Request indexes (which pick the request's
    parameters from the seeded schedule) continue across windows.
    Returns (samples, failures, attempted)."""
    deadline = time.perf_counter() + seconds
    first = wl.issued
    samples, failures = [], []
    client, opts = srv.client()
    try:
        while wl.issued == first or (
                time.perf_counter() < deadline and
                (requests is None or wl.issued < first + requests)):
            i = wl.issued
            wl.issued += 1
            try:
                sample, result = wl.request(client, opts, i)
                err = wl.check(i, result)
            except Exception as e:  # noqa: BLE001 - counted as failed
                sample, err = None, f"{type(e).__name__}: {e}"
            if err is None:
                sample["kind"] = wl.kind(i)
                samples.append(sample)
            else:
                failures.append(err)
    finally:
        client.close()
    return samples, failures, len(samples) + len(failures)


def end_to_end(samples, attempted, failed, start_s, loads, rss_mb, heap_mb):
    lat = [s["latency_s"] for s in samples]
    tail, pct = stats.tail(lat)
    return {
        "setup_s": (start_s + stats.median(loads), "s"),
        "load_s": (stats.median(loads), "s"),
        "rows_per_s": (stats.rate(samples), "1/s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "latency_tail_s": (tail, "s"),
        "first_batch_p50_s": (stats.median([s["first_s"] for s in samples]),
                              "s"),
        "pass_s": (stats.pass_time(samples), "s"),
        "ok_ratio": (1.0 - stats.failed_ratio(failed, attempted), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "live_heap_mb": (heap_mb, "MB"),
    }, {"samples": len(lat), "tail_percentile": pct}


def mean(samples, key):
    vals = [s[key] for s in samples if key in s]
    return sum(vals) / len(vals) if vals else 0.0


def per_layer(samples, puts, delta, levels, probes, overhead_s,
              failed_ratio, dirs_left):
    """`puts`: seconds of each DoPut of the set-up loads; `delta`: the
    tracer's counters summed over the traced blocks; `levels`: the
    block-manager levels (peak over the traced blocks, and the level at
    the end of the last one)."""
    n = max(1, len(samples))
    rows = sum(s["rows"] for s in samples)
    return {
        "Jobs.wait_s": (mean(samples, "wait_s"), "s"),
        "Jobs.status_polls": (mean(samples, "polls"), "count"),
        "spark.executions_per_request": (delta["spark.executions"] / n,
                                         "count"),
        "FlightGrpc.first_batch_s": (mean(samples, "get_first_s"), "s"),
        "FlightGrpc.stream_s": (mean(samples, "stream_s"), "s"),
        "FlightGrpc.batches": (mean(samples, "batches"), "count"),
        "FlightGrpc.bytes_per_row": (
            sum(s.get("bytes", 0) for s in samples) / max(1, rows), "B"),
        "FlightGrpc.put_s": (stats.median(puts) if puts else 0.0, "s"),
        "ArrowIpc.encode_s": (probes["ArrowIpc.encode_s"], "s"),
        "ArrowIpc.decode_s": (probes["ArrowIpc.decode_s"], "s"),
        "FlightService.put_graph_part_s": (
            probes["FlightService.put_graph_part_s"], "s"),
        "GraphOps.node_scan_s": (probes["GraphOps.node_scan_s"], "s"),
        "KHop.khop_edges_s": (probes["KHop.khop_edges_s"], "s"),
        "spark.shuffle_write_mb": (delta["spark.shuffle_write_mb"] / n, "MB"),
        "spark.executor_cpu_s": (delta["spark.executor_cpu_s"] / n, "s"),
        "spark.spill_mb": (delta["spark.spill_mb"] / n, "MB"),
        "spark.planning_s": (delta["spark.planning_s"] / n, "s"),
        "spark.jobs": (delta["spark.jobs"] / n, "count"),
        "spark.stages": (delta["spark.stages"] / n, "count"),
        "spark.driver_gap_s": (delta["spark.driver_gap_s"] / n, "s"),
        "spark.gc_s": (delta["spark.gc_s"] / n, "s"),
        "streaming.batches": (delta["streaming.batches"] / n, "count"),
        "streaming.trigger_s": (delta["streaming.trigger_s"] / n, "s"),
        "streaming.add_batch_s": (delta["streaming.add_batch_s"] / n, "s"),
        "streaming.query_planning_s": (
            delta["streaming.query_planning_s"] / n, "s"),
        "streaming.wal_commit_s": (delta["streaming.wal_commit_s"] / n, "s"),
        "streaming.state_commit_s": (
            delta["streaming.state_commit_s"] / n, "s"),
        "spark.blocks_peak_mb": (levels["spark.blocks_peak_mb"], "MB"),
        "spark.blocks_left_mb": (levels["spark.blocks_mb"], "MB"),
        "FlightService.dirs_left": (float(dirs_left), "count"),
        "failed_ratio": (failed_ratio, "ratio"),
        "trace.overhead_p50_s": (overhead_s, "s"),
    }


def traced_window(wl, srv, seconds):
    """The --trace 1 window: TRACE_BLOCKS, splitting `seconds`. Returns
    the traced blocks' samples, the tracer's counters summed over them,
    the block-manager levels, the tracing overhead (the mean over the two
    U/T pairs of the traced block's median latency minus the untraced
    one's), and the failures and attempts of all blocks."""
    blocks, failures, attempted = [], [], 0
    delta, levels = {}, {"spark.blocks_peak_mb": 0.0}
    for b in TRACE_BLOCKS:
        if b == "T":
            srv.request({"op": "trace_on"})
            before = srv.request({"op": "snapshot"})
        samples, f, a = run_window(wl, srv, seconds / len(TRACE_BLOCKS))
        if b == "T":
            time.sleep(0.3)  # let the listener buses drain
            after = srv.request({"op": "snapshot"})
            srv.request({"op": "trace_off"})
            for k, v in after.items():
                delta[k] = delta.get(k, 0.0) + v - before[k]
            levels = {"spark.blocks_mb": after["spark.blocks_mb"],
                      "spark.blocks_peak_mb": max(
                          levels["spark.blocks_peak_mb"],
                          after["spark.blocks_peak_mb"])}
        blocks.append((b, samples))
        failures += f
        attempted += a
    p50 = [stats.median([s["latency_s"] for s in smp]) if smp else None
           for _, smp in blocks]
    diffs = []
    for j in range(0, len(blocks), 2):
        u, t = (j, j + 1) if blocks[j][0] == "U" else (j + 1, j)
        if p50[u] is not None and p50[t] is not None:
            diffs.append(p50[t] - p50[u])
    overhead = sum(diffs) / len(diffs) if diffs else 0.0
    traced = [s for b, smp in blocks if b == "T" for s in smp]
    return traced, delta, levels, overhead, failures, attempted


def host_facts(args, cpus, classpath):
    spark = [pathlib.Path(p).name.rsplit("-", 1)[-1].removesuffix(".jar")
             for p in classpath.split(os.pathsep)
             if pathlib.Path(p).name.startswith("spark-core_")]
    commit = None
    if shutil.which("git"):
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True,
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
        ).stdout.strip() or None
    return {"nproc": cpus, "heap": srvmod.HEAP,
            "spark": spark[0] if spark else None,
            "pyarrow": pa.__version__, "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "commit": commit,
            "seed": args.seed, "workload": args.workload}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its server (finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = srvmod.build(ROOT)
    cpus = len(os.sched_getaffinity(0))
    srvmod.log("host " + json.dumps(host_facts(args, cpus, classpath)))
    wl = WORKLOADS[args.workload](args.seed)
    work = ROOT / ".bench_build" / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    failures, samples, attempted = [], [], 0
    try:
        with srvmod.Server(classpath, work, cpus) as srv:
            loads = [wl.load(srv) for _ in range(LOADS)]
            srvmod.log(f"server start {srv.start_s:.3f}s, loads "
                       + ", ".join(f"{t:.3f}s" for t in loads))
            _, failures, attempted = run_window(
                wl, srv, WARMUP_CAP_S, requests=wl.warmup_requests)
            srvmod.log(f"warm-up done ({attempted} requests)")
            if args.trace:
                samples, delta, levels, overhead, f, a = traced_window(
                    wl, srv, args.seconds)
            else:
                samples, f, a = run_window(wl, srv, args.seconds)
            srvmod.log(f"window done ({a} requests)")
            heap_mb = srv.request({"op": "heap"})["heap_mb"]
            failures += f
            attempted += a
            rss_mb = srv.peak_rss_mb()
            if args.trace:
                probe_dir = work / "probe"
                probe_dir.mkdir()
                gen.write_streams(wl.nodes, probe_dir / "nodes", cpus)
                gen.write_streams(wl.rels, probe_dir / "rels", cpus)
                probes = srv.request({
                    "op": "probe", "dir": str(probe_dir),
                    "labels": gen.LABELS[:2], "types": gen.REL_TYPES[:2]},
                    timeout=170)
        dirs_left = srv.dirs_left()
        srvmod.log("server stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not samples:
        failures.append("no request completed")
    failed = len(failures)
    attempted = max(attempted, failed, 1)
    for msg in failures[:5]:
        srvmod.log(f"FAILED: {msg}")
    if args.trace:
        metrics = per_layer(samples, wl.puts, delta, levels, probes,
                            overhead, stats.failed_ratio(failed, attempted),
                            dirs_left)
    else:
        metrics, info = end_to_end(samples, attempted, failed, srv.start_s,
                                   loads, rss_mb, heap_mb)
        srvmod.log(f"{info['samples']} samples, tail = "
                   f"p{info['tail_percentile']:.1f}, failed_ratio = "
                   f"{stats.failed_ratio(failed, attempted):.4f}, "
                   f"FlightService.dirs_left = {dirs_left}")
    kinds = {}
    for s in samples:
        kinds.setdefault(s["kind"], []).append(s["latency_s"])
    srvmod.log("median latency by request kind: " + ", ".join(
        f"{k}={stats.median(v):.3f}s" for k, v in sorted(
            kinds.items(), key=lambda kv: str(kv[0]))))
    for k, (v, u) in metrics.items():
        srvmod.log(f"{k:32s} {v:14.6f} {u}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
