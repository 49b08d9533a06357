"""Arithmetic of the benchmark: turns the raw record one JVM run writes into
the metrics `run.py` prints. Pure functions over plain values, so the rules
are unit-tested in `test_metrics.py` without Spark.
"""

import math
import statistics


# ---------------------------------------------------------------- statistics

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(k, len(xs)) - 1]


def tail_percentile(n):
    """The highest whole percentile that still leaves at least ten samples
    beyond it (at most 99). With fewer than 20 samples no tail percentile
    is supported and the median (50) is reported instead."""
    if n < 20:
        return 50
    return max(50, min(99, (100 * (n - 10)) // n))


def tail(values, cap=99):
    """(value, percentile) at the tail percentile of `values`, no higher
    than `cap`; at the 50th percentile that is the median."""
    p = min(cap, tail_percentile(len(values)))
    return (median(values) if p == 50 else percentile(values, p)), p


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean of positive values."""
    if not values:
        return 0.0
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_kind_medians(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["s"])
    return {k: median(v) for k, v in kinds.items()}


# ----------------------------------------------------------------- streaming

def commit_ms(progress):
    """When a micro-batch's output was committed: the trigger start
    (`timestamp`) plus its `triggerExecution` duration. Listener-bus lag
    is not in it."""
    return progress["timestamp_ms"] + progress["duration_ms"].get("triggerExecution", 0)


def data_batches(progress):
    """Progress events of micro-batches that carried rows, in batch order."""
    return sorted((p for p in progress if p["rows"] > 0), key=lambda p: p["batch"])


def batch_of(offset, batches):
    """The first data batch whose source end offset covers `offset`."""
    for b in batches:
        if b["end_offset"] >= offset:
            return b
    return None


def freshness_s(chunks, progress):
    """Per chunk: seconds from its scheduled send time to the commit of the
    micro-batch holding its last record. A chunk never committed gives
    None."""
    batches = data_batches(progress)
    out = []
    for c in chunks:
        b = batch_of(c["offset"], batches)
        out.append(None if b is None else (commit_ms(b) - c["scheduled_ms"]) / 1000.0)
    return out


def backlog_grows(samples, chunk_rows):
    """An open-loop run is invalid when its backlog grows. Sampled at each
    send, the backlog is a sawtooth: it climbs by a chunk per send and
    drops at each commit to what arrived while that batch ran. Those
    troughs stay level while the sink keeps up and rise when it falls
    behind, so the run is invalid when the later half of the troughs sits
    above the earlier half by more than half again plus two chunks. With
    fewer than two commits in the window, it is invalid when more than
    half of what was sent is still waiting at the end."""
    rows = [s["rows"] for s in samples]
    troughs = [b for a, b in zip(rows, rows[1:]) if b < a]
    if len(troughs) < 2:
        return bool(rows) and rows[-1] > len(rows) * chunk_rows / 2
    half = len(troughs) // 2
    return median(troughs[-half:]) > 1.5 * median(troughs[:half]) + 2 * chunk_rows


# ------------------------------------------------------------------- tracing

def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    its children cover (children are clipped to the parent; overlapping
    children count once). Returns {span id: seconds}."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], max(s["start_ms"], s["end_ms"])
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1000.0
    return out


def job_spans(trace, batch_span, first_id):
    """Spark jobs as spans under the span that submitted them: the open
    span on the submitting thread, or for streaming the `addBatch` phase of
    their micro-batch. Jobs outside any recorded span are dropped."""
    known = {s["id"]: s for s in trace["spans"]}
    out = []
    for i, j in enumerate(trace["jobs"]):
        key = j["key"]
        if key.isdigit():
            parent = int(key)
        elif key.startswith("batch:"):
            parent = batch_span.get(key[len("batch:"):], -1)
        else:
            parent = -1
        if parent not in known or j["end_ms"] < 0:
            continue
        out.append({"id": first_id + i, "parent": parent,
                    "layer": known[parent]["layer"] + "_jobs", "name": "job %d" % j["job"],
                    "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    return out


def layer_self_times(spans):
    """Summed self time per layer; the root span's layer is `uncovered`."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + selfs[s["id"]]
    return out


# ------------------------------------------------------------ output checks

def digest_problems(warm, expected):
    """Each query's warm-up row count and content digest against the
    values recorded for it. Returns one message per mismatch."""
    problems = []
    for name, exp in sorted(expected.items()):
        got = warm.get(name)
        if got is None:
            problems.append("%s: not run" % name)
        elif got.get("error"):
            problems.append("%s: %s" % (name, got["error"]))
        elif got["rows"] != exp["rows"] or got["digest"] != exp["digest"]:
            problems.append("%s: rows=%s digest=%s, expected rows=%s digest=%s"
                            % (name, got["rows"], got["digest"][:16], exp["rows"], exp["digest"][:16]))
    return problems
