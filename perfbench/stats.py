"""Statistics for the lake benchmark: latency summaries, the tail rule,
span self time, amplification and contended-commit detection.

Pure functions over plain lists and dicts, so they can be tested without
a JVM (see test_stats.py).
"""
import math
import statistics

TAIL_BEYOND = 10


def p50(values):
    """Median, or None for no samples."""
    return statistics.median(values) if values else None


def tail(values, beyond=TAIL_BEYOND):
    """The tail: the highest percentile with at least `beyond` samples
    above it, i.e. the (beyond+1)-th largest sample.

    Returns (value, percentile, samples_beyond). With `beyond` or fewer
    samples there is no such percentile; the maximum is returned with
    percentile 100 and the number of samples above it (0).
    """
    if not values:
        return None, None, 0
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, 0
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n - i - 1


def kind_p50_gmean(samples):
    """Geometric mean, over operation kinds, of each kind's median.

    `samples` are (kind, value) pairs. Unlike the median of all samples,
    this does not move with how many operations of each kind a run
    managed: a mix of millisecond lookups and second-long scans gives
    the same figure whether the window ends before or after the next
    scan. None for no samples."""
    by_kind = {}
    for kind, v in samples:
        by_kind.setdefault(kind, []).append(v)
    if not by_kind:
        return None
    meds = [statistics.median(v) for v in by_kind.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if all(m > 0 for m in meds) else 0.0


def union_ns(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, each clipped to
    [lo, hi] when given; overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of every span: its duration minus the time its child
    spans cover (overlapping children count once, clipped to the
    parent). `spans` are dicts with id, parent, t0, t1.
    Returns {span id: self ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_ns(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def attach_jobs(spans, jobs, first_id):
    """Turn Spark jobs into child spans: each job hangs under the
    innermost span of the same op whose interval holds the job's start.
    Jobs of no op (or outside every span) hang under the root (-1).
    Returns the new spans, ids starting at `first_id`."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for k, j in enumerate(jobs):
        parent = -1
        best = None
        for s in by_op.get(j["op"], []):
            if s["t0"] <= j["t0"] <= s["t1"] and (best is None or s["t1"] - s["t0"] < best["t1"] - best["t0"]):
                best = s
        if best is not None:
            parent = best["id"]
        out.append({"id": first_id + k, "parent": parent, "name": "spark.exec.job", "op": j["op"],
                    "t0": j["t0"], "t1": j["t1"]})
    return out


def layer_of(name):
    """The layer a span belongs to, from its name."""
    if name.startswith("op."):
        return "bench"
    if name.startswith("spark.exec"):
        return "spark.exec"
    return name.split(".")[0]


def layer_self_ns(spans):
    """Self ns summed per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[layer_of(s["name"])] = out.get(layer_of(s["name"]), 0) + st[s["id"]]
    return out


def write_amp(bytes_written, plain_bytes):
    """Bytes the lake wrote ÷ bytes of the same user rows written once
    as plain parquet. None when nothing was consumed."""
    return bytes_written / plain_bytes if plain_bytes else None


def space_amp(disk_bytes, live_bytes):
    """Bytes on disk under the table ÷ bytes of the live snapshot's
    data files."""
    return disk_bytes / live_bytes if live_bytes else None


def contended(op):
    """True when a commit landed above the slot it saw free: a plain
    commit publishes head+1, a compaction of b bins head+b; anything
    higher means another writer committed in between."""
    v, hb = op.get("v"), op.get("hb")
    if v is None or hb is None or v == hb or op.get("bins") == 0:
        return False
    return v > hb + op.get("bins", 1)
