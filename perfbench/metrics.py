"""Metric definitions and their computation from the recorded passes.

End-to-end metrics come from untraced passes, per-layer metrics from
traced passes. Every metric is defined on every workload.
"""

from __future__ import annotations

import math
import re
import statistics

import spans as tracing

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "query_geomean_s": ("s", "lower"),
    "live_heap_mb": ("MiB", "lower"),
}

PER_LAYER = {
    "span.call_s": ("s", "lower"),
    "span.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.job_s": ("s", "lower"),
    "spark.sched_gap_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_records": ("count", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.broadcast_bytes": ("bytes", "lower"),
    "spark.python_bytes_sent": ("bytes", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "jvm.peak_heap_mb": ("MiB", "lower"),
    "jvm.peak_rss_mb": ("MiB", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
assert set(tracing.COUNTERS) < set(PER_LAYER)


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Median latency of each operation name across ``passes``."""
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for name, secs in p["ops"]:
            by_name.setdefault(name, []).append(secs)
    return {k: median(v) for k, v in by_name.items()}


def end_to_end(setup_times, passes, live_heap_mb: float) -> dict:
    return {
        "setup_s": median(setup_times),
        "wall_s": median([p["wall"] for p in passes]),
        "query_geomean_s": geomean(list(op_medians(passes).values())),
        "live_heap_mb": live_heap_mb,
    }


def _pass_layers(spans: list[dict], counters: list[dict], label: str) -> dict:
    # forced planning (queries only) counts as part of the action
    out = {"span.call_s": 0.0, "span.exec_s": 0.0}
    for s in spans:
        if s["kind"] == "span" and s["pass"] == label:
            out["span.call_s" if s["phase"] == "call" else "span.exec_s"] += s["seconds"]
    for k in tracing.COUNTERS:
        out[k] = sum(c[k] for c in counters if c["pass"] == label)
    return out


def per_layer(tracer, traced_passes, plain_passes, jvm_peaks: dict) -> dict:
    rows = [_pass_layers(tracer.spans, tracer.op_counters, p["label"]) for p in traced_passes]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out["spark.gc_s"] = median([tracer.pass_gc_s[p["label"]] for p in traced_passes])
    out.update(jvm_peaks)
    out["trace.overhead_frac"] = (
        median([p["wall"] for p in traced_passes]) / median([p["wall"] for p in plain_passes]) - 1.0
    )
    return out


def layer_detail(tracer, traced_passes) -> dict:
    """Per-layer seconds by span name (``<layer>_s``) and per query
    (``query.<name>.exec_s``), medians over the traced passes."""
    labels = [p["label"] for p in traced_passes]
    per_pass: dict[str, dict[str, float]] = {lb: {} for lb in labels}
    for s in tracer.spans:
        if s["kind"] != "span" or s["pass"] not in per_pass:
            continue
        d = per_pass[s["pass"]]
        d[f"{s['name']}_s"] = d.get(f"{s['name']}_s", 0.0) + s["seconds"]
        if s["phase"] == "exec" and s["name"].endswith("_queries.exec"):
            d[f"query.{s['op']}.exec_s"] = d.get(f"query.{s['op']}.exec_s", 0.0) + s["seconds"]
    keys = sorted({k for d in per_pass.values() for k in d})
    out = {k: median([per_pass[lb].get(k, 0.0) for lb in labels]) for k in keys}
    growth = []
    for p in traced_passes:
        ext = [s for name, s in p["ops"] if name.startswith("extend_")]
        if len(ext) >= 2:
            growth.append(ext[-1] / ext[0])
    if growth:
        out["operators.dedup.extend_growth"] = median(growth)
    return out
