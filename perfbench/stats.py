"""Latency statistics and byte accounting for one run's op records."""
import math

# candidate tail percentiles, highest first
LADDER = (0.99, 0.98, 0.95, 0.9, 0.8, 0.75)
MIN_BEYOND = 10
MIN_SAMPLES = 40


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def nearest_rank(sorted_xs, q):
    """The q-quantile by nearest rank: the smallest sample with at least
    a q share of the samples at or below it."""
    return sorted_xs[max(0, math.ceil(q * len(sorted_xs)) - 1)]


def beyond(n, q):
    """Samples strictly above the nearest-rank q-quantile of n samples."""
    return n - math.ceil(q * n)


def tail_quantile(n):
    """The highest ladder percentile that leaves at least MIN_BEYOND of n
    samples beyond it; None below MIN_SAMPLES samples."""
    if n < MIN_SAMPLES:
        return None
    for q in LADDER:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def tail(xs, q):
    """The q-quantile of xs, or None when fewer than MIN_SAMPLES samples
    or fewer than MIN_BEYOND samples lie beyond it. Never below the
    median of the same samples (q >= 0.5)."""
    n = len(xs)
    if q is None or q < 0.5 or n < MIN_SAMPLES or beyond(n, q) < MIN_BEYOND:
        return None
    return nearest_rank(sorted(xs), q)


def tails(result):
    """Read and write tails, where a run holds enough samples for one:
    {kind: {"q": percentile, "n": samples, "ms": value}} or None."""
    out = {}
    for kind in ("r", "w"):
        xs = [o["ms"] for o in result["ops"] if o["k"] == kind]
        q = tail_quantile(len(xs))
        out[kind] = None if q is None else {"q": q, "n": len(xs), "ms": tail(xs, q)}
    return out


def end_to_end(result):
    """The end-to-end metrics of one run from the JVM's result record."""
    ops = result["ops"]
    reads = [o["ms"] for o in ops if o["k"] == "r"]
    writes = [o["ms"] for o in ops if o["k"] == "w"]
    in_bytes = sum(o["in"] for o in ops)
    written = sum(o["bytes"] for o in ops)
    write_s = sum(writes) / 1000.0
    return {
        "setup_s": result["setup_s"],
        "read_p50_ms": median(reads),
        "write_p50_ms": median(writes),
        "ops_per_s": len(ops) / result["wall_s"],
        "write_input_mb_per_s": in_bytes / 1e6 / write_s,
        "written_per_input_byte": written / in_bytes,
        "stored_per_input_byte": result["stored_bytes"] / (result["setup_input_bytes"] + in_bytes),
        "peak_rss_mb": result["peak_rss_mb"],
    }
