"""Per-layer metrics from one traced run (spans + attributed Spark work +
streaming progress), and the span file."""

import json
import os

from .stats import median, self_times, tail

LAYERS = ("runtime", "sources", "sinks", "streaming", "ext")
BUILD_PHASES = ("input_manifest", "normalize_extract", "token_stats", "quality_gate", "dedup_decision",
                "decontaminate", "sample_mix", "pack", "shard", "manifest", "ledger",
                "write_outputs")
VERDICTS = ("keep", "drop_exact", "drop_near", "drop_semantic")
STORES = ("hashes", "bands", "cells", "parents")

# name -> unit, in report order
PER_LAYER = {
    "runtime.triggers": "count",
    "runtime.trigger_overhead_ms": "ms",
    "runtime.query_planning_ms": "ms",
    "runtime.wal_commit_ms": "ms",
    "runtime.completion_ms": "ms",
    "sources.offset_ms": "ms",
    "sources.cdm.scan_s": "s",
    "sources.cdm.scan_rows_per_s": "rows/s",
    "sources.input_bytes": "bytes",
    "sinks.write_batch_ms": "ms",
    "sinks.write_batch_tail_ms": "ms",
    "sinks.files_per_trigger": "count",
    "sinks.bytes_per_trigger": "bytes",
    "sinks.core_busy_share": "ratio",
    "streaming.process_batch_ms": "ms",
    "streaming.process_batch_tail_ms": "ms",
    "streaming.jobs_per_trigger": "count",
    "streaming.stages_per_trigger": "count",
    "streaming.tasks_per_trigger": "count",
    "streaming.core_busy_share": "ratio",
    "streaming.shuffle_bytes_per_trigger": "bytes",
    "streaming.late_over_early": "ratio",
}
PER_LAYER.update({"streaming.verdicts.%s" % v: "count" for v in VERDICTS})
PER_LAYER.update({
    "ext.cluster_merge_ms": "ms",
    "ext.cluster_merge_jobs": "count",
})
PER_LAYER.update({"ext.store_rows.%s" % s: "count" for s in STORES})
PER_LAYER.update({
    "ext.store_files": "count",
    "ext.store_read_bytes_per_trigger": "bytes",
})
for _l in LAYERS:
    PER_LAYER["%s.self_ms" % _l] = "ms"
    PER_LAYER["%s.gc_ms" % _l] = "ms"
    PER_LAYER["%s.task_failures" % _l] = "count"
PER_LAYER["trace.overhead_ratio"] = "ratio"

# the batch build's layer (corpus_build only, which BENCHMARK.json omits)
BUILD = {"ext.build.%s_ms" % p: "ms" for p in BUILD_PHASES}
BUILD.update({
    "ext.build.unphased_ms": "ms",
    "ext.build.jobs": "count",
    "ext.build.shuffle_bytes": "bytes",
    "ext.build.spill_bytes": "bytes",
    "ext.build.result_bytes": "bytes",
    "ext.build.core_busy_share": "ratio",
})


def unit(metric):
    return PER_LAYER.get(metric) or BUILD[metric]


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def _tail(xs):
    return tail(xs)[0] if xs else 0.0


def _dur_ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def compute(traced, untraced_walls, cores, input_bytes, input_rows, trig,
            verdicts=None, sink_stats=None):
    """Every PER_LAYER metric (0 where a layer is not exercised), plus the
    BUILD metrics when the run was a batch build. `trig` is the traced
    run's data-carrying triggers."""
    spans = traced["spans"]
    counters = {int(k): v for k, v in traced["counters"].items()}
    selfs = self_times(spans)
    m = {k: 0.0 for k in PER_LAYER}

    def spans_named(name):
        return [s for s in spans if s["name"] == name]

    def ctr(span_list, key):
        return sum(counters.get(s["id"], {}).get(key, 0) for s in span_list)

    def busy(span_list):
        wall = sum(_dur_ms(s) for s in span_list)
        return ctr(span_list, "task_run_ms") / (wall * cores) if wall > 0 else 0.0

    for layer in LAYERS:
        ls = [s for s in spans if layer_of(s["name"]) == layer]
        m["%s.self_ms" % layer] = sum(selfs[s["id"]] for s in ls) / 1e6
        m["%s.gc_ms" % layer] = ctr(ls, "gc_ms")
        m["%s.task_failures" % layer] = ctr(ls, "task_failures")

    if trig:
        d = [t["duration_ms"] for t in trig]
        m["runtime.triggers"] = len(trig)
        m["runtime.trigger_overhead_ms"] = median(
            [x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d])
        m["runtime.query_planning_ms"] = median([x.get("queryPlanning", 0) for x in d])
        m["runtime.wal_commit_ms"] = median(
            [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d])
        m["sources.offset_ms"] = median(
            [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d])
        if traced.get("last_progress_ns"):
            m["runtime.completion_ms"] = (traced["end_ns"] - traced["last_progress_ns"]) / 1e6
    m["sources.input_bytes"] = input_bytes
    for s in spans_named("sources.cdm.scan"):
        m["sources.cdm.scan_s"] = _dur_ms(s) / 1e3
        m["sources.cdm.scan_rows_per_s"] = input_rows / m["sources.cdm.scan_s"]

    wb = spans_named("sinks.write_batch")
    if wb:
        ms = [_dur_ms(s) for s in wb]
        m["sinks.write_batch_ms"] = median(ms)
        m["sinks.write_batch_tail_ms"] = _tail(ms)
        m["sinks.core_busy_share"] = busy(wb)
        if sink_stats:
            m["sinks.files_per_trigger"] = sink_stats[0] / len(wb)
            m["sinks.bytes_per_trigger"] = sink_stats[1] / len(wb)

    pb = spans_named("streaming.process_batch")
    if pb:
        ms = [_dur_ms(s) for s in pb]
        n = len(pb)
        m["streaming.process_batch_ms"] = median(ms)
        m["streaming.process_batch_tail_ms"] = _tail(ms)
        m["streaming.jobs_per_trigger"] = ctr(pb, "jobs") / n
        m["streaming.stages_per_trigger"] = ctr(pb, "stages") / n
        m["streaming.tasks_per_trigger"] = ctr(pb, "tasks") / n
        m["streaming.core_busy_share"] = busy(pb)
        m["streaming.shuffle_bytes_per_trigger"] = (
            ctr(pb, "shuffle_read_bytes") + ctr(pb, "shuffle_write_bytes")) / n
        q = max(1, n // 4)
        m["streaming.late_over_early"] = median(ms[-q:]) / median(ms[:q])
    for v in VERDICTS:
        m["streaming.verdicts.%s" % v] = (verdicts or {}).get(v, 0)

    cm = spans_named("ext.cluster_merge")
    if cm:
        m["ext.cluster_merge_ms"] = median([_dur_ms(s) for s in cm])
        m["ext.cluster_merge_jobs"] = ctr(cm, "jobs") / len(cm)
        m["ext.store_read_bytes_per_trigger"] = (ctr(pb, "input_bytes") + ctr(cm, "input_bytes")) / len(cm)
    for s in STORES:
        m["ext.store_rows.%s" % s] = traced.get("store_rows", {}).get(s, 0)
    m["ext.store_files"] = traced.get("store_files", 0)

    build = spans_named("ext.build")
    if build:
        m.update({k: 0.0 for k in BUILD})
        for s in spans:
            if "%s_ms" % s["name"] in BUILD:
                m["%s_ms" % s["name"]] = _dur_ms(s)
        m["ext.build.unphased_ms"] = sum(selfs[s["id"]] for s in build) / 1e6
        m["ext.build.jobs"] = ctr(build, "jobs")
        m["ext.build.shuffle_bytes"] = ctr(build, "shuffle_read_bytes") + ctr(build, "shuffle_write_bytes")
        m["ext.build.spill_bytes"] = ctr(build, "spill_bytes")
        m["ext.build.result_bytes"] = ctr(build, "result_bytes")
        m["ext.build.core_busy_share"] = busy(build)

    m["trace.overhead_ratio"] = traced["wall_s"] / median(untraced_walls)
    return m


def write_span_file(path, traced):
    """One JSON object per span, with its self time and attributed work."""
    selfs = self_times(traced["spans"])
    counters = traced["counters"]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in traced["spans"]:
            row = dict(s, self_ns=selfs[s["id"]], work=counters.get(str(s["id"]), {}))
            f.write(json.dumps(row, sort_keys=True) + "\n")


def self_time_table(traced):
    """(span name, calls, total ms, self ms) per span name."""
    selfs = self_times(traced["spans"])
    agg = {}
    for s in traced["spans"]:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += _dur_ms(s)
        a[2] += selfs[s["id"]] / 1e6
    return [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
