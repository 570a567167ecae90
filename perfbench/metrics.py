"""Pure arithmetic of the benchmark: result digests, the tail-percentile
rule, span self time, failure counting and the per-layer sums.

Nothing here touches Spark, DuckDB or the file system, so
perfbench/test_metrics.py can check it directly.
"""
import datetime
import decimal
import hashlib
import math
import statistics

# Percentiles the tail metric may report, highest first. The median is not
# a tail: below 40 samples there is no tail percentile (see tail()).
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


# --- result digests ---------------------------------------------------------

def canon(v):
    """Canonical text of one value, equal exactly when the values compare
    equal under Python `==` the way tools/check_oracle.py compares a Spark
    result with its DuckDB twin (1 == 1.0 == Decimal('1.00'))."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 2 ** 63:
            return str(int(v))
        return repr(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        f = float(v)
        return repr(f) if decimal.Decimal(f) == v else "d" + str(v.normalize())
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "s" + repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time,
                      datetime.timedelta)):
        return "t" + repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(k) + ":" + canon(v[k])
                              for k in sorted(v, key=canon)) + "}"
    return "o" + repr(v)


def digest(columns, rows):
    """Digest of a result: its column names sorted, and its rows in order
    with their values in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(("|".join(columns[i] for i in order) + "\n").encode())
    for row in rows:
        h.update(("|".join(canon(row[i]) for i in order) + "\n").encode())
    return {"rows": len(rows), "cols": sorted(columns), "sha256": h.hexdigest()}


# --- timing statistics ------------------------------------------------------

def tail(samples):
    """The highest percentile in TAIL_PERCENTILES that leaves at least
    TAIL_MIN_BEYOND samples strictly above its rank.

    Returns (value, percentile, samples beyond it), or None when no such
    percentile exists (fewer than 40 samples). The rank of percentile p over n
    sorted samples is ceil(p/100 * n) (nearest rank); the samples beyond it
    are the n - rank that follow.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return xs[rank - 1], p, n - rank
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
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


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def failures(check, expected, actual, passes):
    """Counts attempted and failed query executions of one run.

    `check` lists (name, error) for the check pass; `expected` and `actual`
    map names to result digests (a name missing from `actual` has no
    readable result). A check execution fails if it threw or its digest
    differs from its twin. Every timed execution is attempted; it fails if
    it threw. Returns (attempted, failed, {name: reason}).
    """
    attempted, failed, why = 0, 0, {}
    for name, error in check:
        attempted += 1
        if error is not None:
            failed += 1
            why[name] = "threw: " + error
        elif name not in expected:
            failed += 1
            why[name] = "no twin digest"
        elif actual.get(name) != expected[name]:
            failed += 1
            got = actual.get(name)
            why[name] = "differs from twin: %s rows vs %s expected" % (
                got["rows"] if got else "no", expected[name]["rows"])
    for p in passes:
        for s in p["samples"]:
            attempted += 1
            if s["error"] is not None:
                failed += 1
                why.setdefault(s["name"], "threw: " + s["error"])
    return attempted, failed, why


def median(xs):
    return statistics.median(xs) if xs else 0.0
