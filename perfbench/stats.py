"""Metric arithmetic of the graft benchmark: percentiles, span self times and
the per-layer figures of a traced run. Pure functions over plain data."""

import math
import statistics

import numpy as np

UNITS = {"call_ms": "ms", "action_ms": "ms", "plan_ms": "ms", "jobs": "count",
         "tasks": "count", "executor_cpu_ms": "ms", "shuffle_mb": "MB",
         "driver_only_ms": "ms", "task_retries": "count"}
ALL = list(UNITS)
LOADED = ["call_ms", "jobs", "tasks", "executor_cpu_ms", "shuffle_mb",
          "driver_only_ms", "task_retries"]
# The metrics each layer has: `lang` parses in the client JVM, no job;
# `model` and `score.embeddings` build cached tables eagerly in set-up, with
# no separate action; the codec's map-and-collect has no shuffle.
LAYERS = {"lang": ["call_ms"], "model": LOADED, "score.embeddings": LOADED,
          "exec.hard": ALL, "exec.cqd": ALL, "exec.lmpnn": ALL,
          "exec.graph": ALL, "score.training": ALL, "metric": ALL,
          "pipeline.dedup": ALL, "pipeline.text": ALL,
          "pipeline.codec": [m for m in ALL if m != "shuffle_mb"]}
EXTRA_METRICS = [("exec.hard.shuffle_rows_per_answer", "rows"),
                 ("exec.cqd.shuffle_rows_per_answer", "rows"),
                 ("score.training.jobs_per_step", "count"),
                 ("exec.graph.jobs_per_superstep", "count"),
                 ("score.training.cached_mb_delta", "MB"),
                 ("exec.graph.cached_mb_delta", "MB"),
                 ("pipeline.codec.decoded_mb_per_s", "MB/s"),
                 ("spark.codegen_compile_ms", "ms")]
MIN_BEYOND = 10


def tail(values, q=0.9, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile of `values`, refused unless at least
    `min_beyond` samples lie strictly above it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    v = s[max(0, math.ceil(q * len(s)) - 1)]
    beyond = sum(1 for x in s if x > v)
    if beyond < min_beyond:
        raise ValueError(f"p{q * 100:g} of {len(s)} samples has {beyond} "
                         f"beyond it, fewer than {min_beyond}")
    return v


def median_hd(values, grid=100_000):
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of the order statistics. A mixed workload's ops fall into
    clusters by kind; the plain median of one round jumps across the gap
    between two clusters when two ops swap places, this estimate moves with
    both."""
    s = np.sort(np.asarray(values, dtype=float))
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    a = (n + 1) / 2
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = ((a - 1) * (np.log(t) + np.log1p(-t))
               - (2 * math.lgamma(a) - math.lgamma(2 * a)))
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf))])
    edges = cdf[np.round(np.arange(n + 1) / n * grid).astype(int)]
    w = np.diff(edges)
    return float(w @ s / w.sum())


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Span id -> its duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans}


def op_accounting(spans, ops):
    """How the spans of each timed op account for its wall.

    `ops` are the client's records ({"op": id, "ms": wall}), timed around
    the op independently of its spans. Per op: the self times of every
    layer span under the op's root span (each a layer's job time plus its
    driver-only time), the root's own remainder (`client_ms`: the op's time
    outside every layer, the benchmark's own code), and `gap_ms`, what of
    the measured wall the two leave unexplained or explain twice."""
    selfs = self_times(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    roots = {s["op"]: s for s in spans
             if s["layer"] == "bench" and s["phase"] == "timed"}
    rows = []
    for o in ops:
        root = roots.get(o["op"])
        layers = client = 0.0
        if root is not None:
            client = selfs[root["id"]]
            stack = list(children.get(root["id"], []))
            while stack:
                s = stack.pop()
                layers += selfs[s["id"]]
                stack.extend(children.get(s["id"], []))
        rows.append(dict(op=o["op"], wall_ms=o["ms"], layers_ms=layers,
                         client_ms=client,
                         gap_ms=abs(o["ms"] - layers - client)))
    return rows


def unaccounted(rows, tol_ms=2.0, tol_share=0.02):
    """The ops whose spans leave more than max(tol_ms, tol_share x wall) of
    the measured wall unexplained."""
    return [r for r in rows if r["gap_ms"] > max(tol_ms, tol_share * r["wall_ms"])]


def layer_metrics(spans, jobs, codegen_ms_per_op=0.0):
    """The per-layer figures of a traced run, as {name: (value, unit)}.

    Counts and times are per call of the layer (mean over its `call` spans,
    or its `action` spans where a layer is only ever collected), so runs
    that fit a different number of ops in their window stay comparable."""
    # Set-up calls (model, score.embeddings) and the timed ops; the warm-up
    # passes run the same calls cold and would skew the per-call means.
    spans = [s for s in spans if s["phase"] in ("setup", "timed")]
    selfs = self_times(spans)
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)
    out = {}
    sums = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        calls = [s for s in mine if s["name"] == "call"]
        actions = [s for s in mine if s["name"] == "action"]
        n = max(1, len(calls) or len(actions))
        js = [j for s in mine for j in jobs_by_span.get(s["id"], [])]
        driver_only = sum(
            selfs[s["id"]] - union_length(clip(
                [(j["start"], j["end"]) for j in jobs_by_span.get(s["id"], [])],
                s["start"], s["end"]))
            for s in mine)
        # BFS records its superstep count on its action span; its jobs run
        # under both of its spans.
        bfs_ops = {s["op"] for s in mine
                   if s["attrs"].get("supersteps", 0.0) > 0}
        plans = [s["attrs"]["plan_ms"] for s in mine
                 if "plan_ms" in s["attrs"]]
        vals = {
            "call_ms": sum(s["end"] - s["start"] for s in calls) / n,
            "action_ms": sum(s["end"] - s["start"] for s in actions) / n,
            "plan_ms": sum(plans) / max(1, len(plans)),
            "jobs": len(js) / n,
            "tasks": sum(j["tasks"] for j in js) / n,
            "executor_cpu_ms": sum(j["cpu_ns"] for j in js) / 1e6 / n,
            "shuffle_mb": sum(j["shuffle_read_bytes"] + j["shuffle_write_bytes"]
                              for j in js) / 1048576.0 / n,
            "driver_only_ms": driver_only / n,
            "task_retries": sum(j["retries"] for j in js) / n,
        }
        for m in LAYERS[layer]:
            out[f"{layer}.{m}"] = (vals[m], UNITS[m])
        sums[layer] = {
            "shuffle_rows": sum(j["shuffle_read_records"] for j in js),
            "answers": sum(s["attrs"].get("answers", 0.0) for s in mine),
            "jobs": len(js),
            "steps": sum(s["attrs"].get("steps", 0.0) for s in mine),
            "supersteps_jobs": sum(
                len(jobs_by_span.get(s["id"], [])) for s in mine
                if s["op"] in bfs_ops),
            "supersteps": sum(s["attrs"].get("supersteps", 0.0) for s in mine),
            "cached": [s["attrs"]["cached_mb_delta"] for s in mine
                       if "cached_mb_delta" in s["attrs"]],
            "bytes": sum(s["attrs"].get("bytes", 0.0) for s in mine),
            "wall_ms": sum(s["end"] - s["start"] for s in mine),
        }

    def ratio(a, b):
        return a / b if b else 0.0

    out["exec.hard.shuffle_rows_per_answer"] = (ratio(
        sums["exec.hard"]["shuffle_rows"], sums["exec.hard"]["answers"]),
        "rows")
    out["exec.cqd.shuffle_rows_per_answer"] = (ratio(
        sums["exec.cqd"]["shuffle_rows"], sums["exec.cqd"]["answers"]), "rows")
    out["score.training.jobs_per_step"] = (ratio(
        sums["score.training"]["jobs"], sums["score.training"]["steps"]),
        "count")
    out["exec.graph.jobs_per_superstep"] = (ratio(
        sums["exec.graph"]["supersteps_jobs"],
        sums["exec.graph"]["supersteps"]), "count")
    for layer in ("score.training", "exec.graph"):
        c = sums[layer]["cached"]
        out[f"{layer}.cached_mb_delta"] = (statistics.fmean(c) if c else 0.0,
                                           "MB")
    out["pipeline.codec.decoded_mb_per_s"] = (ratio(
        sums["pipeline.codec"]["bytes"] / 1048576.0,
        sums["pipeline.codec"]["wall_ms"] / 1000.0), "MB/s")
    out["spark.codegen_compile_ms"] = (codegen_ms_per_op, "ms")
    return out

