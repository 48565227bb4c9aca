"""Summary statistics of the benchmark's latency samples."""
import math

TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def median_of_kinds(pairs):
    """Median over op kinds of each kind's median latency, from (kind,
    latency) pairs: every kind (a query, or a transform and drop kind)
    weighs the same, so a kind's run-to-run jitter cannot shift the
    median from one cluster of kinds to the next."""
    by = {}
    for k, v in pairs:
        by.setdefault(k, []).append(v)
    return median([median(v) for v in by.values()])


def linear_fit(xs, ys):
    """Least-squares (intercept, slope) of ys against xs; slope 0 when
    every x is the same."""
    n = len(xs)
    if n == 0:
        raise ValueError("fit of no samples")
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return my, 0.0
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - slope * mx, slope


def quantile_hd(xs, p, steps=64):
    """Harrell-Davis estimate of the p-quantile (0 < p < 1): the mean of
    the sorted samples, the i-th weighted by the mass that the
    Beta((n + 1) p, (n + 1) (1 - p)) distribution puts on ((i - 1) / n,
    i / n] (a midpoint sum of `steps` points per slot). It estimates the
    same quantile as the sample of rank p n, with less run-to-run
    variance: it does not hinge on which one sample lands on that rank."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("quantile of no samples")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    logs = [[(a - 1) * math.log(x) + (b - 1) * math.log(1 - x)
             for x in ((i + (j + 0.5) / steps) / n for j in range(steps))]
            for i in range(n)]
    top = max(max(row) for row in logs)
    w = [sum(math.exp(v - top) for v in row) for row in logs]
    return sum(wi * x for wi, x in zip(w, s)) / sum(w)


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples beyond): percentile 100 (n - 10) / n, the
    rank of the sample with ten above it, its value the Harrell-Davis
    estimate at that percentile. Up to 20 samples that rank is not above
    the median, and the median is returned with the number of samples
    above it."""
    s = sorted(xs)
    n = len(s)
    rank = n - TAIL_BEYOND
    if rank <= n // 2:
        return median(s), 50.0, n // 2
    return quantile_hd(s, rank / n), 100.0 * rank / n, TAIL_BEYOND
