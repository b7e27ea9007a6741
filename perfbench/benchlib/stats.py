"""The benchmark's own arithmetic: latency percentiles, span self time and
the write/space amplification byte accounting. Self-tested in
perfbench/tests/test_stats.py."""
import math
import os


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no samples")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail_percentile(values, target=0.90, beyond=10):
    """The highest percentile up to `target` that has at least `beyond`
    samples above it, by nearest rank.

    Returns (value, percentile used, n). The rank is ceil(target * n),
    lowered until n - rank >= beyond. It never drops below the median: with
    fewer than 2 * beyond samples the median is reported (and the
    percentile used says 0.5).
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = min(math.ceil(target * n), n - beyond)
    if rank <= math.ceil(0.5 * n):
        return median(v), 0.5, n
    return v[rank - 1], rank / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    its child spans cover. `spans` are dicts with id, parent, start_ms and
    end_ms; returns {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = max(0.0, dur - covered(kids, s["start_ms"], s["end_ms"])) / 1e3
    return out


def _under(path, directory):
    directory = directory.rstrip(os.sep)
    return path == directory or path.startswith(directory + os.sep)


def space_amp(listing, live_dirs):
    """Warehouse bytes on disk divided by the bytes of the live current
    snapshots. `listing` is every file of the warehouse with its size (all
    versions, logs, checksums and commit metadata count); a file counts as
    live when it sits under one of `live_dirs`, the tables' current snapshot
    directories. Returns None when nothing is live."""
    total = sum(size for _, size in listing)
    live = sum(size for path, size in listing
               if any(_under(path, d) for d in live_dirs))
    return total / live if live else None


def write_amp(bytes_written, bytes_landed):
    """Filesystem bytes written by the ops divided by the bytes of input
    they landed. Returns None when nothing was landed."""
    return bytes_written / bytes_landed if bytes_landed else None
