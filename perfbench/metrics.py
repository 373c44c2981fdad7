"""Metric arithmetic for the benchmark: percentiles, amplification ratios,
core utilisation and span self time. Kept free of I/O (apart from the
directory walk) so every rule is unit-tested in test_metrics.py."""
import os
import statistics


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs, p, min_beyond=10):
    """The p-th percentile when at least `min_beyond` samples lie beyond it;
    otherwise the highest percentile that still has `min_beyond` samples
    beyond it (never below the median). Returns (value, percentile used)."""
    n = len(xs)
    if n == 0:
        return None, None
    p_eff = p
    if n * (1 - p / 100.0) < min_beyond:
        p_eff = max(50.0, 100.0 * (1 - min_beyond / n))
    return percentile(xs, p_eff), p_eff


def median(xs):
    return statistics.median(xs) if xs else None


def ratio(num, den):
    return num / den if den else None


def write_amp(bytes_written, delta_bytes):
    """Bytes the program wrote to its stores per byte of delta input."""
    return ratio(bytes_written, delta_bytes)


def dir_stats(path):
    """(total bytes, file count) of the regular files under `path`."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def space_amp(store_dirs, fresh_dir):
    """Bytes on disk of the stores over bytes of the live rows written
    fresh as one parquet file."""
    stored = sum(dir_stats(d)[0] for d in store_dirs)
    fresh = sum(size for size in parquet_sizes(fresh_dir))
    return ratio(stored, fresh)


def parquet_sizes(path):
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                yield os.path.getsize(os.path.join(root, n))


def core_busy_ratio(task_run_ms, wall_ms, cores):
    """Share of the executor cores' time spent running tasks."""
    return ratio(task_run_ms, wall_ms * cores)


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Map span id -> duration minus the time its children cover (children
    that overlap each other are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_length(kids.get(s["id"], [])) for s in spans}


def fail_ratio(ops):
    """(thrown + wrong-answer ops) / attempted ops."""
    return ratio(sum(1 for o in ops if not o["ok"]), len(ops))


def counts(raw):
    """(attempted, failed) of a run record. A set-up or warm-up that threw
    (the run's `error`) is one more failed operation; no op of a run is
    dropped from the count, whatever it failed on."""
    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if raw.get("error"):
        attempted += 1
        failed += 1
    return attempted, failed
