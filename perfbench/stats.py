"""Summary arithmetic shared by every workload."""
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, but not below the median: (value, percentile). With too few
    samples for any percentile above the median to have `beyond` samples
    beyond it, the median is reported as the 50th percentile."""
    s = sorted(xs)
    i = len(s) - 1 - beyond
    med = median(s)
    if i < 0 or s[i] < med:
        return med, 50.0
    return s[i], 100.0 * (i + 1) / len(s)


def failed_ratio(failed, attempted):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def rate(samples):
    """Rows/s of the closed-loop client: the median over its requests of
    rows / latency. Time spent checking a result between requests is
    excluded, and one slow request (a GC pause, a late JIT compile) moves
    it no more than it moves the median latency."""
    return median([s["rows"] / s["latency_s"] for s in samples])


def pass_time(samples):
    """One pass over a workload's distinct requests: the sum, over the
    request kinds (label or type pairs, chunks, gates), of each kind's
    median latency."""
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["latency_s"])
    return sum(median(v) for v in by_kind.values())
