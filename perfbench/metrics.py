"""Metric math over a run record: latency summaries, closed-loop batch
latencies from streaming progress, span self time, call-site -> module
attribution, space amplification, and the per-layer numbers of a traced
run. Pure functions; unit-tested in tests/test_metrics.py.
"""

import bisect
import re
import statistics

MODULES = ["graft.streaming", "graft.writer", "graft.lake", "graft.sources",
           "graft.plans", "graft.operators"]


# ---------------------------------------------------------------- latency

def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    the (beyond+1)-th largest sample, at percentile 100*(n-beyond)/n.
    Below 2*beyond samples that percentile would sit under the median, so
    the median stands in (percentile 50). Returns (value, percentile, n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(xs), 50.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def batch_latencies(drain_t0, progress):
    """Closed-loop latency of each micro-batch of one continuous drain:
    batch k arrives when batch k-1 became visible (the drain call for the
    first) and is visible when its trigger ends. `progress` items carry
    start_ms and durations.triggerExecution. Returns (latencies, rows)."""
    events = sorted(progress, key=lambda p: (p["start_ms"], p["batch_id"]))
    lat, rows, prev = [], [], drain_t0
    for p in events:
        if p["rows"] <= 0:
            continue
        end = p["start_ms"] + p["durations"].get("triggerExecution", 0)
        lat.append(end - prev)
        rows.append(p["rows"])
        prev = end
    return lat, rows


def in_window(items, t0, t1, key="start_ms"):
    return [x for x in items if t0 <= x[key] <= t1]


# ---------------------------------------------------------------- intervals

def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [a, b] intervals, optionally clipped."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
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
    """Self time per module: each span's duration minus the part of its
    interval that its children cover. `spans` items: id, parent, module,
    t0, t1 (children may be any span whose parent is the span's id).
    Returns {module: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(k["t0"], k["t1"]) for k in children.get(s["id"], [])]
        own = (s["t1"] - s["t0"]) - union_ms(kids, s["t0"], s["t1"])
        out[s["module"]] = out.get(s["module"], 0.0) + own
    return out


# ---------------------------------------------------------------- attribution

_FRAME = re.compile(r"^\s*(?:at\s+)?([A-Za-z_$][\w$.]*)\.[\w$<>]+\(")


def module_of(call_site):
    """The engine module whose code submitted a Spark job: the innermost
    `graft.<module>.` frame of the job's long call site. Frames of the
    benchmark itself map to `perfbench`; anything else to `spark`."""
    for line in call_site.splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        cls = m.group(1)
        if cls.startswith("graft."):
            parts = cls.split(".")
            return "graft." + parts[1] if len(parts) > 2 else "graft"
        if cls.startswith("perfbench."):
            return "perfbench"
    return "spark"


def job_origins(jobs, samples):
    """Where each job came from, by driver stack samples: the most frequent
    (module, innermost graft frame, under auto-maintenance) among samples
    of the client threads taken inside the job's interval; ties go to the
    earliest. Streaming micro-batch jobs all carry their query's start call
    site, so the call site is only the fallback for a job too short to be
    sampled. Returns {job id: (module, frame, maint)}."""
    waiting = sorted((s["t"], s["module"], s["frame"], s["maint"]) for s in samples)
    times = [w[0] for w in waiting]
    out = {}
    for j in jobs:
        lo = bisect.bisect_left(times, j["start_ms"])
        hi = bisect.bisect_right(times, max(j["end_ms"], j["start_ms"]))
        counts = {}
        for w in waiting[lo:hi]:
            counts[w[1:]] = counts.get(w[1:], 0) + 1
        out[j["id"]] = max(counts, key=counts.get) if counts else \
            (module_of(j["call_site"]), "", "AutoMaintain" in j["call_site"])
    return out


def driver_ms(samples, jobs, t0, t1, period_ms):
    """Sampled client-thread time per module in [t0, t1] while no Spark
    job ran: the driver-side work (metadata, CAS, planning) of each module."""
    busy = sorted((j["start_ms"], max(j["end_ms"], j["start_ms"])) for j in jobs)
    starts = [a for a, _ in busy]
    reach, hi = [], float("-inf")
    for _, b in busy:
        hi = max(hi, b)
        reach.append(hi)  # latest end among jobs started so far
    out = {}
    for s in samples:
        k = bisect.bisect_right(starts, s["t"])
        if t0 <= s["t"] <= t1 and not (k and reach[k - 1] >= s["t"]):
            out[s["module"]] = out.get(s["module"], 0.0) + period_ms
    return out


def job_spans(jobs, parent_spans):
    """Jobs as child spans of the innermost benchmark span that contains
    their start, attributed to a module by call site."""
    out = []
    for j in jobs:
        parent = 0
        best = None
        for s in parent_spans:
            if s["t0"] <= j["start_ms"] <= s["t1"]:
                if best is None or s["t1"] - s["t0"] < best["t1"] - best["t0"]:
                    best = s
        if best is not None:
            parent = best["id"]
        module = j.get("module") or module_of(j["call_site"])
        out.append({"id": -1 - j["id"], "parent": parent, "module": module,
                    "t0": float(j["start_ms"]), "t1": float(max(j["end_ms"], j["start_ms"]))})
    return out


# ---------------------------------------------------------------- space

def space_amp(lake_stats, input_bytes):
    """Bytes under the table roots (data, deletes, metadata, history) over
    the bytes of generated input the tables were built from."""
    if input_bytes <= 0:
        raise ValueError("input_bytes must be positive")
    return sum(t["total_bytes"] for t in lake_stats) / float(input_bytes)


# ---------------------------------------------------------------- helpers

def median_or_zero(xs):
    return float(statistics.median(xs)) if xs else 0.0


def ratio(num, den):
    return float(num) / den if den else 0.0
