"""Percentiles under the ten-samples-beyond rule, the Harrell-Davis
median, process memory, and CPU time the hypervisor took from this
machine."""

from __future__ import annotations

import math
import os


class TooFewSamples(ValueError):
    pass


def percentile(values: list[float], q: float, beyond: int = 10) -> float:
    """The ``q``-th percentile (0 < q < 100) of ``values``, nearest-rank.

    A tail percentile is only reported when at least ``beyond`` samples
    lie above its rank: p90 needs n >= 10*beyond. Raises
    :class:`TooFewSamples` otherwise.
    """
    if not 0 < q < 100:
        raise ValueError(f"q must be in (0, 100), got {q}")
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < beyond:
        raise TooFewSamples(
            f"p{q:g} of {n} samples leaves {n - rank} beyond it, need {beyond}")
    return sorted(values)[rank - 1]


def hd_median(values: list[float], steps: int = 200) -> float:
    """The Harrell-Davis estimate of the median of ``values``.

    A weighted mean of the order statistics, with weights from the
    Beta((n+1)/2, (n+1)/2) distribution over ``[(i-1)/n, i/n]``. With
    the 8-26 calls of a run, each of a different op kind, the sample
    median is one or two calls whose neighbours lie 5-30% away, so it
    jumps when one call moves past another; this estimate moves with
    all the calls near the middle. The Beta CDF is integrated
    numerically, ``steps`` trapezoids per order statistic.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no values")
    e = (n + 1) / 2 - 1  # both Beta exponents
    grid = n * steps
    density = [(k / grid) ** e * (1 - k / grid) ** e for k in range(grid + 1)]
    cdf = [0.0]
    for k in range(grid):
        cdf.append(cdf[-1] + (density[k] + density[k + 1]) / 2)
    return sum(x * (cdf[(i + 1) * steps] - cdf[i * steps])
               for i, x in enumerate(xs)) / cdf[-1]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise OSError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU seconds stolen by the hypervisor since boot, over all CPUs; a
    run whose window saw much of it ran on a contended host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
