"""Metric arithmetic over the harness's raw measurements.

Everything that turns raw times, progresses and spans into the reported
numbers lives here, so that `test_metrics.py` can check it without Spark.
"""
import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_quantile(n, wanted=0.99):
    """The highest quantile, at most `wanted`, with at least MIN_BEYOND of
    `n` samples beyond it."""
    if n < 2 * MIN_BEYOND:
        return 0.5
    return min(wanted, 1.0 - MIN_BEYOND / n)


def tail(values, wanted=0.99):
    """(value, quantile used, sample count) for the tail of `values`."""
    q = supported_quantile(len(values), wanted)
    return percentile(values, q), q, len(values)


def weighted_percentile(points, q):
    """q-quantile of a distribution given as (value, weight) pairs, each
    weight a count of samples sharing the value (lower nearest rank)."""
    pts = sorted((v, w) for v, w in points if w > 0)
    total = sum(w for _, w in pts)
    if total == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * total))
    seen = 0
    for v, w in pts:
        seen += w
        if seen >= rank:
            return v
    return pts[-1][0]


def latency_ms(due_us, seen_us):
    """Open-loop latency: from when the record was due on the schedule,
    not from when it was put, to when it was first read from the sink."""
    return (seen_us - due_us) / 1000.0


def progress_other_ms(duration_ms):
    """Trigger time not covered by a named progress phase."""
    named = sum(v for k, v in duration_ms.items() if k != "triggerExecution")
    return duration_ms.get("triggerExecution", 0) - named


def batch_landing_ms(progress, start_ms):
    """(ms from query start until the batch committed, records) per
    micro-batch that read records: when each backlog record landed."""
    return [(p["start_ms"] + p["duration_ms"].get("triggerExecution", 0) - start_ms,
             p["input_rows"]) for p in progress if p["input_rows"] > 0]


def _covered(parent, children):
    """Length of the union of the children's intervals inside the parent."""
    spans = sorted((max(c["start_us"], parent["start_us"]), min(c["end_us"], parent["end_us"]))
                   for c in children)
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
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


def self_times_us(spans):
    """{span id: its duration minus the part its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_us"] - s["start_us"]) - _covered(s, kids.get(s["id"], []))
            for s in spans}


def layer_self_s(spans, layers):
    """Self time summed per layer; a span's layer is its name's first part."""
    own = self_times_us(spans)
    out = {layer: 0.0 for layer in layers}
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in out:
            out[layer] += own[s["id"]] / 1e6
    return out


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
