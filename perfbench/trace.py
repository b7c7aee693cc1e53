"""Span arithmetic for the traced run: self time, layer totals, coverage.

A span is a dict with `id`, `parent` (0 for a root), `layer`, `name`,
`start_s`, `end_s` and `spark`, the totals of the Spark work issued
while it was the innermost open span.
"""

SPARK_KEYS = ("jobs", "planning_ms", "task_ms", "gc_ms", "shuffle_bytes",
              "spill_bytes", "input_bytes", "records_written")


def _union_length(intervals):
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def self_times(spans):
    """{span id: its duration minus the part its children cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered = _union_length(
            (max(lo, c["start_s"]), min(hi, c["end_s"]))
            for c in children.get(s["id"], []) if c["end_s"] > lo and c["start_s"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_totals(spans):
    """Per layer: self time, span count and summed Spark totals."""
    selfs = self_times(spans)
    layers = {}
    for s in spans:
        t = layers.setdefault(s["layer"], dict({"busy_s": 0.0, "calls": 0},
                                               **{k: 0 for k in SPARK_KEYS}))
        t["busy_s"] += selfs[s["id"]]
        t["calls"] += 1
        for k in SPARK_KEYS:
            t[k] += s["spark"].get(k, 0)
    return layers


def name_totals(spans, name):
    """Summed duration and Spark totals of the spans called `name`."""
    picked = [s for s in spans if s["name"] == name]
    out = {"duration_s": sum(s["end_s"] - s["start_s"] for s in picked)}
    for k in SPARK_KEYS:
        out[k] = sum(s["spark"].get(k, 0) for s in picked)
    return out


def coverage(spans, wall_s):
    """Share of the traced wall time that some layer's self time covers."""
    if wall_s <= 0:
        return 0.0
    return sum(self_times(spans).values()) / wall_s
