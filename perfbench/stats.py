"""Pure helpers that turn a run's raw record into metrics.

Kept free of I/O so `tests/` can check them directly.
"""
import math
import statistics

# percentiles a tail metric may report, highest first
TAIL_GRID = (0.90, 0.75, 0.50)


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 1) of a non-empty sequence."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def supported(n, q, beyond=10):
    """True when `n` samples leave at least `beyond` of them above `q`."""
    return n - math.ceil(q * n) >= beyond


def tail(values, grid=TAIL_GRID, beyond=10):
    """The highest percentile in `grid` with at least `beyond` samples
    beyond it, as `(q, value)`; `(None, None)` when even the lowest is
    unsupported."""
    for q in grid:
        if supported(len(values), q, beyond):
            return q, percentile(values, q)
    return None, None


def freshness(files, progress):
    """Per landed file, the time from when it was due until its rows were
    readable, in ms.

    `files`: landed files in landing order, each `{"due_ms", "rows"}`.
    `progress`: stream batches with rows, each `{"end_ms", "rows"}`.
    The stream takes files whole and in landing order, so the file whose
    rows end at cumulative row `c` became readable at the end of the
    first batch whose cumulative input reaches `c`. Files the stream never
    took are left out.
    """
    out, taken, b = [], 0, 0
    batches = sorted(progress, key=lambda p: p["end_ms"])
    need = 0
    for f in files:
        need += f["rows"]
        while b < len(batches) and taken < need:
            taken += batches[b]["rows"]
            b += 1
        if taken < need:
            break
        out.append(batches[b - 1]["end_ms"] - f["due_ms"])
    return out


def backlog_max(files, progress):
    """Most files landed but not yet taken, seen at the end of any batch."""
    ends = sorted(progress, key=lambda p: p["end_ms"])
    best, taken = 0, 0
    for p in ends:
        taken += p["rows"]
        landed = [f for f in files if f["landed_ms"] <= p["end_ms"]]
        rows, done = 0, 0
        for f in landed:
            rows += f["rows"]
            if rows <= taken:
                done += 1
        best = max(best, len(landed) - done)
    return best


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def geomean(values):
    """Geometric mean of positive numbers."""
    logs = [math.log(v) for v in values]
    return math.exp(sum(logs) / len(logs))


def theil_sen_at(points, x):
    """The value at `x` of the Theil-Sen line through `points` (pairs
    `(x, y)`): the median of the pairwise slopes, with the intercept the
    median of `y - slope * x`. A robust centre for samples with or
    without a trend."""
    slopes = [(y2 - y1) / (x2 - x1)
              for i, (x1, y1) in enumerate(points) for x2, y2 in points[i + 1:]
              if x2 != x1]
    b = statistics.median(slopes) if slopes else 0.0
    a = statistics.median(y - b * px for px, y in points)
    return a + b * x
