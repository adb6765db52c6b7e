"""Pure helpers for turning raw samples and spans into metrics."""

import math
import statistics


def median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile (0 < p < 1), or None when fewer than
    `min_beyond` samples lie beyond it: a tail read from a handful of
    samples is noise, so it is not reported."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi) covered by the union of `intervals`, which may
    overlap each other and stick out of [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
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


def self_time(start, end, child_intervals):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(child_intervals, start, end)


class SpanTree:
    """Spans as written by the traced run: dicts with id, parent, op,
    name, label, start, end (microseconds) and counters `c`."""

    def __init__(self, spans):
        self.spans = [s for s in spans if s["end"] >= s["start"] >= 0]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def roots(self):
        return [s for s in self.children.get(-1, []) if s["name"] == "op"]

    def descendants(self, span):
        out, stack = [], list(self.children.get(span["id"], []))
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.children.get(s["id"], []))
        return out

    def subtree(self, span):
        return [span] + self.descendants(span)

    def find(self, span, name, label=None):
        return [s for s in self.subtree(span)
                if s["name"] == name and (label is None or s["label"] == label)]

    def self_seconds(self, span):
        kids = [(c["start"], c["end"]) for c in self.children.get(span["id"], [])]
        return self_time(span["start"], span["end"], kids) / 1e6

    def idle_seconds(self, span):
        """Time within `span` during which none of its tasks ran."""
        tasks = [(t["start"], t["end"]) for t in self.descendants(span) if t["name"] == "spark.task"]
        return self_time(span["start"], span["end"], tasks) / 1e6


def seconds(span):
    return (span["end"] - span["start"]) / 1e6


def counter(spans, key):
    return sum(s["c"].get(key, 0.0) for s in spans)
