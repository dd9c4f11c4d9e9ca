"""Order statistics and on-disk accounting shared by the benchmark."""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

import numpy as np

#: A tail percentile needs at least this many samples beyond it.
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def hd_median(values: list[float], grid: int = 1000) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) density, so every
    sample counts and the estimate does not jump with the one sample
    that happens to rank in the middle.  The Beta CDF is integrated with
    the trapezoid rule on ``grid`` steps per order statistic."""
    if not values:
        raise ValueError("median of no values")
    xs = sorted(values)
    n = len(xs)
    t = np.linspace(0.0, 1.0, grid * n + 1)
    pdf = (t * (1.0 - t)) ** ((n - 1) / 2)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    weights = np.diff(cdf[::grid]) / cdf[-1]
    return float(np.dot(weights, xs))


def tail_quantile(n: int) -> float | None:
    """Highest quantile, in whole percent, with at least ``TAIL_SAMPLES``
    of ``n`` samples strictly beyond it; ``None`` when ``n`` is too
    small for any (the tail is then not reported)."""
    for pct in range(99, 49, -1):
        if n * (100 - pct) >= 100 * TAIL_SAMPLES:
            return pct / 100
    return None


def tail(values: list[float]) -> tuple[float, float] | None:
    """(quantile, value) of the reportable tail, or ``None``."""
    q = tail_quantile(len(values))
    return None if q is None else (q, percentile(values, q))


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            if os.path.isfile(path) and not os.path.islink(path):
                files += 1
                size += os.path.getsize(path)
    return files, size


def uri_path(uri: str) -> str:
    """Local path of a ``file:`` URI as Spark's ``inputFiles()`` gives it."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme in ("", "file") else uri


def live_bytes(uris: list[str]) -> tuple[int, int]:
    """(files, bytes) of the distinct files a snapshot reads."""
    paths = {uri_path(u) for u in uris}
    return len(paths), sum(os.path.getsize(p) for p in paths)


def space_amp(bytes_on_disk: int, bytes_live: int) -> float:
    """On-disk bytes per byte of live snapshot data."""
    if bytes_live <= 0:
        raise ValueError("space_amp needs live bytes")
    return bytes_on_disk / bytes_live
