"""Summary statistics the benchmark reports, and the metric-name grammar.

As a command, summarizes saved runs (each file holds one run's stdout):

    python3 perfbench/stats.py runs/*.txt

printing, per metric, the median, the quartiles and the spread (the
interquartile distance as a share of the median).
"""
import json
import math
import re
import statistics
import sys

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """Metric names: letters, digits, '_', '.', '-'; at most 64; start
    with a letter or digit."""
    return bool(NAME.match(name))


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median, third quartile (statistics.quantiles, n=4)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail(xs, beyond=10):
    """The highest whole percentile with at least ``beyond`` samples above
    it, by nearest rank. Returns (percentile, value, samples). With too
    few samples for any such percentile, falls back to the median (p50)."""
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    if n <= beyond:
        return 50, median(s), n
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1], n


def summarize(paths):
    """Per metric: (median, q1, q3, spread, values) over the runs' result
    lines (the last line of each file)."""
    values = {}
    for p in paths:
        with open(p) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, xs in values.items():
        q1, q2, q3 = quartiles(xs)
        out[name] = (q2, q1, q3, spread(xs), xs)
    return out


if __name__ == "__main__":
    for name, (med, q1, q3, sp, xs) in summarize(sys.argv[1:]).items():
        print(f"{name:24s} n={len(xs):2d} median={med:12.4f} "
              f"q1={q1:12.4f} q3={q3:12.4f} spread={sp:.3f}")
