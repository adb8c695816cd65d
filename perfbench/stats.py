"""Statistics and result comparison used by the benchmark."""
import hashlib
import math
import os
import statistics
import sys

# The engine's oracle comparison, `tools/check.py`: its canonical form of a
# result frame and its value equality.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, canon, values_equal  # noqa: E402,F401

# Percentiles tried for a tail figure, highest first.
TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def median(values):
    return statistics.median(values) if values else float("nan")


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p of the
    sample at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("empty sample")
    rank = max(1, math.ceil(p * len(xs)))
    return xs[rank - 1]


def tail(values, min_beyond=10):
    """The highest percentile of TAIL_LADDER that has at least `min_beyond`
    samples above it, as (p, value, n). None when no percentile qualifies."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p * n))
        if n - rank >= min_beyond:
            return p, percentile(values, p), n
    return None


def failed_fraction(attempted, failed):
    """Failed share of attempted operations; refuses a run that attempted
    nothing or reports more failures than attempts."""
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


def compare(got, want):
    """None when two canonical frames (`canon`) are equal value for value as
    `tools/check.py` compares them, else a short description of the first
    difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c].tolist(), want[c].tolist()
        bad = [i for i in range(len(g)) if not values_equal(g[i], w[i])]
        if bad:
            i = bad[0]
            return f"col {c}: {len(bad)} diffs, e.g. row {i}: {g[i]!r} vs {w[i]!r}"
    return None


def digest(df):
    """Content digest of a canonical frame."""
    h = hashlib.sha256("|".join(df.columns).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(repr(row).encode())
    return h.hexdigest()
