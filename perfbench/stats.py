"""Statistics the benchmark reports: medians, a tail with its sample count,
failure counting and the seed-driven op order."""
import hashlib
import random
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The sample at the highest nearest-rank percentile that leaves at least
    `beyond` samples above it in rank. Returns (value, percentile, n)."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    rank = n - beyond  # 1-based
    return sorted(xs)[rank - 1], 100.0 * rank / n, n


def count_failures(passes, check_failed):
    """(attempted, failed) over every timed op execution. An execution fails
    if it threw, or if its op failed the output check afterwards: a wrong
    result makes every run of that op wrong."""
    attempted = failed = 0
    for p in passes:
        for name, _secs, err in p["ops"]:
            attempted += 1
            failed += err is not None or name in check_failed
    return attempted, failed


def op_order(ops, seed, pass_index):
    """The pass's op order: a permutation of `ops` fixed by (seed, pass)."""
    order = list(ops)
    random.Random(f"{seed}/{pass_index}").shuffle(order)
    return order


def list_hash(ops):
    return hashlib.sha256("\n".join(ops).encode()).hexdigest()[:16]
