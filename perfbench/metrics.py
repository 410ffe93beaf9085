"""Statistics of the benchmark: summaries of samples and the span
arithmetic of the traced run. Pure functions; tests in perfbench/tests.
"""
import math
import statistics

# Span kinds. Op spans are the unit the error rate and latencies count;
# each op kind names the layer-call kinds that must cover its wall time.
OP_LAYERS = {
    "query": ("build", "plan", "exec"),
    "write": ("catalyst", "job"),
    "read": ("build", "exec"),
    "stream": ("epoch",),
    "epoch": ("phase",),
    "pipeline": ("stage_ledger",),
}
# spans Spark reports after the fact; they get their parent by time
LISTENER_KINDS = ("job", "catalyst")


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile that still has `beyond` samples above it, and
    that percentile; the median when there are too few samples for one.
    """
    s = sorted(xs)
    k = len(s) - beyond - 1
    if k < 0:
        return median(s), 50.0
    return s[k], 100.0 * k / (len(s) - 1)


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def resolve_parents(spans, slack_ms=1.0):
    """Give each listener span the deepest driver span that contains its
    start (Spark's event times have millisecond resolution, hence the
    slack). A job stays inside the op it was attributed to. Returns a new
    list.
    """
    drivers = [s for s in spans if s["kind"] not in LISTENER_KINDS
               and s["kind"] not in ("stage", "epoch", "phase", "stage_ledger")]
    out = []
    for s in spans:
        if s["kind"] in LISTENER_KINDS:
            best = None
            for d in drivers:
                if s["kind"] == "job" and d["op"] != s["op"]:
                    continue
                if d["start"] - slack_ms <= s["start"] <= d["end"] + slack_ms and \
                        (best is None or d["start"] >= best["start"]):
                    best = d
            if best is not None:
                s = dict(s, parent=best["id"], op=best["op"])
        out.append(s)
    return out


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """Self time of every span (its wall time not covered by its children)
    summed per kind, in ms.
    """
    kids = children(spans)
    out = {}
    for s in spans:
        covered = union_ms([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                           s["start"], s["end"])
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def descendants(span, kids):
    stack, out = list(kids.get(span["id"], [])), []
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s["id"], []))
    return out


def coverage(spans):
    """Per op span: the share of its wall time its layer calls cover
    (OP_LAYERS), as (name, kind, share) tuples.
    """
    kids = children(spans)
    out = []
    for s in spans:
        layers = OP_LAYERS.get(s["kind"])
        if not layers or s["end"] <= s["start"]:
            continue
        parts = [(d["start"], d["end"]) for d in descendants(s, kids) if d["kind"] in layers]
        out.append((s["name"], s["kind"], union_ms(parts, s["start"], s["end"]) / (s["end"] - s["start"])))
    return out
