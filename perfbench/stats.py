"""The benchmark's arithmetic, kept free of I/O so tests/test_stats.py can
pin it: percentiles and the tail rule, due-time latency, the mapping from
MemoryStream offsets to micro-batches, sink write amplification and span
self time."""
import math


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(k, len(xs)) - 1]


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-th percentile: a Beta-weighted mean
    of all order statistics. On a mix of request kinds whose latencies sit
    in clusters, a plain order statistic jumps between clusters when one
    sample moves; this estimate moves smoothly."""
    import numpy as np
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(x[0])
    q = p / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # Beta(a, b) CDF at i/n by integrating the log-density on a grid
    grid = np.linspace(0.0, 1.0, 200001)[1:-1]
    logpdf = ((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
              + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    pdf = np.exp(logpdf)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2) * (grid[1] - grid[0])])
    cdf /= cdf[-1]
    at = np.interp(np.arange(n + 1) / n, grid, cdf, left=0.0, right=1.0)
    return float(np.dot(np.diff(at), x))


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n, beyond=10):
    """The highest candidate percentile that leaves at least `beyond` of
    `n` samples strictly above its rank, or 100 when none does."""
    for p in TAIL_CANDIDATES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            return p
    return 100.0


def tail(xs, beyond=10):
    """Tail latency: the Harrell-Davis estimate at the highest candidate
    percentile with at least `beyond` samples beyond it. Returns
    (percentile, value, n); with too few samples the maximum is returned
    as percentile 100, so the caller can see the tail is unresolved."""
    n = len(xs)
    p = tail_percentile(n, beyond)
    if p == 100.0:
        return p, (max(xs) if xs else float("nan")), n
    return p, hd_quantile(xs, p), n


def due_latency(due_ns, end_ns):
    """Open-loop latency: from when the request was due, not from when a
    client picked it up, so a stall also charges the requests queued
    behind it."""
    return (end_ns - due_ns) / 1e9


def closed_loop_rate(clients, n, busy_s):
    """Closed-loop capacity by Little's law: `clients` always have one
    request in flight, so requests/s = clients / mean response time. Unlike
    n / wall, the last stragglers of a finite deck do not count as idle."""
    return clients * n / busy_s if busy_s > 0 else 0.0


def queue_wait(due_ns, start_ns):
    return max(0, start_ns - due_ns) / 1e9


def batch_of_offset(batches, offset):
    """MemoryStream offsets are chunk indexes; a micro-batch with
    (start, end] offsets consumed every chunk in that range. `batches`
    is [(batch_id, start, end)] with start -1 for a first batch. Returns
    the batch id that consumed `offset`, or None."""
    for bid, start, end in batches:
        if start < offset <= end:
            return bid
    return None


def chunk_latencies(chunks, batches, sink_end):
    """Per-chunk latency for one query: creation stamp of each chunk to
    the return of the sink call of the batch that consumed it.
    chunks: [(offset, created_ns, rows)]; batches: [(batch_id, start,
    end)]; sink_end: {batch_id: end_ns}. Returns [latency_s]; chunks no
    completed batch consumed are left out."""
    ordered = sorted(batches, key=lambda b: b[1])
    out = []
    for off, created, rows in chunks:
        bid = batch_of_offset(ordered, off)
        if bid is not None and bid in sink_end:
            out.append((sink_end[bid] - created) / 1e9)
    return out


def written_bytes(before, after):
    """Bytes a sink call wrote, from listings {relative path: size} taken
    before and after it: files that are new or changed in size. A table
    rewritten by an upsert counts in full; an append counts its new
    files only."""
    return sum(size for path, size in after.items() if before.get(path) != size)


def files_written(before, after):
    return sum(1 for path, size in after.items() if before.get(path) != size)


def self_times(spans):
    """Self time per span: its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    between children counted once). spans: [(id, parent, start, end)].
    Returns {id: self_seconds}."""
    kids = {}
    for sid, parent, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, parent, s, e in spans:
        covered, cur_s, cur_e = 0, None, None
        for cs, ce in sorted((max(cs, s), min(ce, e)) for cs, ce in kids.get(sid, [])):
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (e - s - covered) / 1e9
    return out


def progress_at(points, t):
    """Rows done by time t, from (time, cumulative rows) points sorted by
    time: the last point at or before t (0 before the first)."""
    done = 0
    for pt, rows in points:
        if pt <= t:
            done = rows
        else:
            break
    return done


def slope(xs, ys):
    """Least-squares slope of ys over xs (0 for fewer than 2 points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    return 0.0 if den == 0 else sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den
