"""Pure metric arithmetic for the benchmark (covered by test_perfbench.py)."""
import math
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def geomean(xs):
    """Geometric mean of positive values."""
    if not xs or any(x <= 0 for x in xs):
        raise ValueError(f"geomean needs positive values, got {xs!r}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, min_beyond=10):
    """The highest percentile that still has `min_beyond` samples above it:
    the (min_beyond + 1)-th largest value.  Returns (value, percentile)."""
    if len(xs) <= min_beyond:
        raise ValueError(f"{len(xs)} samples cannot have {min_beyond} beyond a percentile")
    s = sorted(xs)
    return s[-(min_beyond + 1)], (len(s) - min_beyond) / len(s)


def account(samples, reference):
    """Failure accounting over the timed window's samples.

    `reference` maps each operation to the digest that passed the oracle
    check (None when the oracle check failed).  An operation attempt fails
    when it raised, when its operation failed the oracle check, or when its
    digest differs from the reference.  Returns (attempted, failed)."""
    failed = 0
    for s in samples:
        ref = reference.get(s["op"])
        if s["error"] or ref is None or s["digest"] != ref:
            failed += 1
    return len(samples), failed


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted


def per_op_medians(samples):
    """{op: median latency} over successful samples."""
    by = {}
    for s in samples:
        if not s["error"]:
            by.setdefault(s["op"], []).append(s["lat_s"])
    return {op: median(v) for op, v in by.items()}


def self_times(spans):
    """Self time per layer from spans ({name, id, parent, start_ns, end_ns}):
    a span's duration minus its children's; the layer is the name's prefix
    before the first '.' ('op' spans are the operation root)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        own = (s["end_ns"] - s["start_ns"]) - child.get(s["id"], 0)
        out[layer] = out.get(layer, 0.0) + own / 1e9
    return out


def union_s(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def job_time_per_op(jobs):
    """{operation span id: (job seconds, construct-time job seconds, jobs)}
    from [start_ms, end_ms, op, construct] records.  Jobs of one operation
    can overlap, so its job time is the union of its own job intervals;
    summing over operations keeps the units of the summed span times."""
    by = {}
    for start, end, op, construct in jobs:
        by.setdefault(int(op), []).append((start, end, bool(construct)))
    out = {}
    for op, js in by.items():
        out[op] = (union_s([(s, e) for s, e, _ in js]) / 1e3,
                   union_s([(s, e) for s, e, c in js if c]) / 1e3, len(js))
    return out
