"""Pure metric logic of the graft benchmark: percentiles, span self time,
open-loop latency accounting. No I/O, so the unit tests cover it directly."""
import statistics

TAIL_BEYOND = 10


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile). With n samples sorted ascending, the
    value at index n - beyond - 1 has exactly `beyond` samples after it;
    it sits at percentile 100 * (n - beyond) / n."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    s = sorted(samples)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def median(xs):
    return statistics.median(xs)


def union_length(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans, keep=lambda span: True):
    """Self time per span name: each span's duration minus the part of
    its interval that its children cover. Children may overlap each
    other; the covered part is their union, so overlap is not
    subtracted twice. `spans` is a list of (name, start, end, parent, op)
    with parent an index into the list or -1; only spans for which
    `keep` holds are summed."""
    children = {}
    for s in spans:
        if s[3] >= 0:
            children.setdefault(s[3], []).append((s[1], s[2]))
    out = {}
    for i, span in enumerate(spans):
        if keep(span):
            name, start, end = span[0], span[1], span[2]
            covered = union_length(children.get(i, []), start, end)
            out[name] = out.get(name, 0) + (end - start) - covered
    return out


def open_loop_latencies(arrivals, commits):
    """Latency of each arrival from its due time (not its send time) to
    the commit of the batch that took it, so a stall also charges the
    arrivals queued behind it. `arrivals` are dicts with due_ms and the
    (door, batch) that took it, `commits` maps (door, batch) to commit
    time in ms. Returns seconds; None for an arrival never committed."""
    out = []
    for a in arrivals:
        c = commits.get((a["door"], a.get("batch")))
        out.append(None if c is None else (c - a["due_ms"]) / 1e3)
    return out


def backlog_max(arrivals, commit_of):
    """Most files sent but not yet committed, seen at any send time."""
    best = 0
    for a in arrivals:
        t = a["sent_ms"]
        n = sum(1 for b in arrivals if b["sent_ms"] <= t
                and (commit_of(b) is None or commit_of(b) > t))
        best = max(best, n)
    return best

