"""Statistics for the zonal-service benchmark: percentile support,
response checking, error counting and span self times.

Pure functions over the raw samples the benchmark JVM writes, so they
can be tested without a JVM (see tests/test_stats.py).
"""

import math

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10

# Doubles are compared at the reference goldens' tolerance.
REL_TOL = 1e-8

# Status codes the benchmark JVM records for requests with no HTTP answer.
TIMEOUT = -1
IO_ERROR = -2


def beyond(n, p):
    """Samples strictly beyond the p-th percentile of n samples."""
    return n * (100 - p) // 100


def supports(n, p):
    """True when n samples leave at least MIN_BEYOND beyond percentile p."""
    return beyond(n, p) >= MIN_BEYOND


def percentile(values, p):
    """Linear-interpolated p-th percentile, or None when the sample
    count cannot support it."""
    if not supports(len(values), p):
        return None
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def matches(got, expected):
    """Structural comparison of a response with its expected value:
    same keys and lengths, integers exactly, doubles within REL_TOL."""
    if isinstance(expected, dict):
        return (isinstance(got, dict) and got.keys() == expected.keys()
                and all(matches(got[k], v) for k, v in expected.items()))
    if isinstance(expected, list):
        return (isinstance(got, list) and len(got) == len(expected)
                and all(matches(g, e) for g, e in zip(got, expected)))
    if isinstance(expected, bool) or not isinstance(expected, (int, float)):
        return got == expected
    if isinstance(got, bool) or not isinstance(got, (int, float)):
        return False
    if isinstance(expected, int):
        return got == expected
    if math.isnan(expected):
        return math.isnan(got)
    return abs(got - expected) <= REL_TOL * max(1.0, abs(expected))


def classify(sample, expected, parse):
    """'ok', 'timeout', 'non200' or 'wrong' for one request sample;
    `parse` turns a response body into a value (json.loads)."""
    if sample["status"] == TIMEOUT:
        return "timeout"
    if sample["status"] != 200:
        return "non200"
    try:
        got = parse(sample["body"])
    except ValueError:
        return "wrong"
    return "ok" if matches(got, expected) else "wrong"


def outcomes(samples, expected, parse):
    """Counts of each outcome; expected[i] belongs to request i."""
    counts = {"ok": 0, "timeout": 0, "non200": 0, "wrong": 0}
    for s in samples:
        counts[classify(s, expected[s["req"]], parse)] += 1
    return counts


def error_rate(counts):
    """Failed over attempted: non-200, timeouts and wrong results."""
    attempted = sum(counts.values())
    return (attempted - counts["ok"]) / attempted if attempted else 1.0


def self_times(spans):
    """Self time (ns) of every span: its duration minus the part of its
    interval that its children cover. Overlapping children count once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, end = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out

