"""Pure functions the runner and the spread check share: sample statistics,
the bound comparison and rendering of the result line."""
import json
import math
import statistics

# Percentiles tried for a tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(xs, min_beyond=10):
    """The highest percentile in TAIL_PERCENTILES that leaves at least
    `min_beyond` samples above it, as (percentile, value, sample count).
    Returns (None, None, n) when even the median is not supported."""
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, percentile(xs, p), n
    return None, None, n


def spread(xs):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as `statistics.quantiles(xs, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base` (negative
    when it is better)."""
    if base == 0:
        raise ValueError("a bounded metric needs a non-zero base")
    return (new - base) / base if better == "lower" else (base - new) / base


def within_bound(base, new, better, bound):
    return worse_by(base, new, better) <= bound


def render(correct, attempted, failed, metrics, spec):
    """The runner's last stdout line. `metrics` maps name -> value; `spec`
    is the list of declared metrics (name, unit). Every declared metric must
    be present and no other; values must be finite numbers."""
    names = [m["name"] for m in spec]
    missing = [n for n in names if n not in metrics]
    extra = [n for n in metrics if n not in names]
    if missing or extra:
        raise ValueError(f"metrics do not match the declaration: missing {missing}, extra {extra}")
    out = {}
    for m in spec:
        v = float(metrics[m["name"]])
        if not math.isfinite(v):
            raise ValueError(f"{m['name']} is not finite: {v}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted {attempted}, failed {failed}")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})
