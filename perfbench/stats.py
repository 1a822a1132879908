"""Statistics the benchmark reports: percentiles with their sample-count
rule, and per-layer self time over a span tree."""
import math


def percentile(values, q):
    """Harrell-Davis estimate of the q-quantile, q in (0, 1): a weighted
    mean of all order statistics, the i-th of n weighted by the mass of
    Beta(q(n+1), (1-q)(n+1)) on [(i-1)/n, i/n]. Unlike a single order
    statistic (nearest rank) it does not jump from one query's latency to
    the next when the samples around the quantile swap places, so on a
    few dozen samples of queries with very different costs it varies far
    less from run to run."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    out, below = 0.0, 0.0
    for i, x in enumerate(s, 1):
        upto = beta_cdf(i / n, a, b)
        out += (upto - below) * x
        below = upto
    return out


def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b), a, b > 0, by its
    continued fraction (modified Lentz), on the side where it converges
    fast."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log(1.0 - x)) / a
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-15:
            break
    return front * (f - 1.0)


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def samples_beyond(n, q):
    """How many of n samples lie above their q-quantile (above rank
    ceil(q * n))."""
    return n - math.ceil(q * n)


def samples_needed(q, beyond=10):
    """Fewest samples that leave `beyond` of them above the q-percentile,
    so the percentile is not set by a handful of outliers."""
    n = 1
    while samples_beyond(n, q) < beyond:
        n += 1
    return n


def union_length(intervals):
    """Total length covered by [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it its
    children cover (children that run in parallel count once; the part of
    a child outside its parent is ignored). Spans are dicts with `id`,
    `parent`, `layer`, `start_ns`, `end_ns`; unfinished spans are skipped.
    Returns {layer: seconds}."""
    done = [s for s in spans if s["end_ns"] >= s["start_ns"] >= 0]
    children = {}
    for s in done:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in done:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                                for c in children.get(s["id"], [])])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (b - a - covered) / 1e9
    return out


def job_busy_s(spans, root_id):
    """Seconds in which at least one Spark job (a `scheduler` span) under
    `root_id` was running: the union of their intervals."""
    return union_length([(s["start_ns"], s["end_ns"]) for s in descendants(spans, [root_id])
                         if s["layer"] == "scheduler"]) / 1e9


def descendants(spans, root_ids):
    """The spans under any of `root_ids`, roots included."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] in set(root_ids)]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
