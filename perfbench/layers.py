"""Per-layer metrics of a traced run.

Span times come from the tracer; job, task, byte and executor-time
figures from Spark's status store, read once after the timed part.
Write-side figures are per traced write operation (a backfill or a
micro-batch), ``plans.read_api`` figures per traced read.  Every metric
is always present, so a layer a workload does not touch reads 0.
"""

from __future__ import annotations

import statistics

from spans import (BENCH_GROUP, LAYERS, STAGE_FIELDS, UNATTRIBUTED, UNTRACED_GROUP,
                   group_stage_metrics)
from workloads import warm_drift_pct

# A traced micro-batch's root span: its self-time is the streaming
# engine's trigger overhead, which has a metric of its own.
BATCH_ROOT = "streaming.live.batch"
WRITE_ROOTS = ("bench.backfill", BATCH_ROOT)
READ_ROOT = "bench.read"
# Layers whose spans only orchestrate the named sub-layers: their own
# time is not attributed to any layer's work.
ORCHESTRATORS = (BENCH_GROUP, "plans.pipeline", "streaming.live")

# name -> (unit, better)
PER_LAYER = {
    "sources.files.wall_ms": ("ms", "lower"),
    "sources.tebis_csv.calls": ("count", "lower"),
    "sources.tebis_csv.wall_ms": ("ms", "lower"),
    "sinks.datapoints.calls": ("count", "lower"),
    "sinks.datapoints.wall_ms": ("ms", "lower"),
    "sinks.datapoints.exec_run_ms": ("ms", "lower"),
    "sinks.datapoints.jobs": ("count", "lower"),
    "sinks.datapoints.tasks": ("count", "lower"),
    "sinks.datapoints.input_bytes": ("B", "lower"),
    "sinks.datapoints.files_written": ("count", "lower"),
    "sinks.catalog_store.calls": ("count", "lower"),
    "sinks.catalog_store.wall_ms": ("ms", "lower"),
    "sinks.catalog_store.exec_run_ms": ("ms", "lower"),
    "sinks.catalog_store.jobs": ("count", "lower"),
    "sinks.catalog_store.tasks": ("count", "lower"),
    "sinks.catalog_store.input_bytes": ("B", "lower"),
    "sinks.catalog_store.shuffle_write_bytes": ("B", "lower"),
    "sinks.catalog_store.lock_wait_ms": ("ms", "lower"),
    "sinks.catalog_store.new_series": ("count", "lower"),
    "sinks.lifecycle.wall_ms": ("ms", "lower"),
    "sinks.lifecycle.files_moved": ("count", "lower"),
    "streaming.live.self_ms": ("ms", "lower"),
    "streaming.live.trigger_overhead_ms": ("ms", "lower"),
    "streaming.live.jobs": ("count", "lower"),
    "plans.pipeline.self_ms": ("ms", "lower"),
    "plans.read_api.wall_ms": ("ms", "lower"),
    "plans.read_api.exec_run_ms": ("ms", "lower"),
    "plans.read_api.jobs": ("count", "lower"),
    "plans.read_api.tasks": ("count", "lower"),
    "plans.read_api.input_bytes": ("B", "lower"),
    "plans.read_api.files_read": ("count", "lower"),
    "ingest.input_bytes_per_csv_byte": ("ratio", "lower"),
    "session.jit_ms": ("ms", "lower"),
    "session.gc_ms": ("ms", "lower"),
    "host.steal_pct": ("%", "lower"),
    "bench.warm_drift_pct": ("%", "lower"),
    "bench.attributed_pct": ("%", "higher"),
    "unattributed.wall_ms": ("ms", "lower"),
    "unattributed.jobs": ("count", "lower"),
    "tracing.overhead_pct": ("%", "lower"),
}
SPAN_FIELDS = ("calls", "wall_ms", "self_ms")
WRITE_LAYERS = [layer for layer in LAYERS if layer != "plans.read_api"]


def untraced_writes(res) -> list[float]:
    return [ms for ms, t in zip(res.write_ms, res.write_traced) if not t]


def attribution(tracer, roots: list[int]) -> tuple[float, float]:
    """``(attributed_pct, unattributed_ms)`` of the write trees at ``roots``.

    Unattributed is the time no sub-layer span covers: the self-time of
    the root and orchestrating spans, less a micro-batch's trigger
    overhead.  A callee that no wrapper traces shows up here.
    """
    spans = tracer.spans

    def unattributed(sid: int) -> float:
        s = spans[sid]
        if s.layer not in ORCHESTRATORS:
            return 0.0
        own = 0.0 if s.name == BATCH_ROOT else tracer.self_ms(sid)
        return own + sum(unattributed(c) for c in s.children)

    wall = sum(spans[r].ms for r in roots)
    missing = sum(unattributed(r) for r in roots)
    return (100.0 * (1 - missing / wall) if wall else 0.0), missing


def layer_metrics(spark, tracer, workload, res, stats, first_job) -> dict[str, float]:
    spans = tracer.spans
    write_roots = [r for r in tracer.roots if spans[r].name in WRITE_ROOTS]
    read_roots = [r for r in tracer.roots if spans[r].name == READ_ROOT]
    n_w, n_r = max(len(write_roots), 1), max(len(read_roots), 1)
    run_id = getattr(workload, "run_id", None)
    intervals = getattr(workload, "traced_intervals", [])

    def job_key(group, submitted):
        if group in LAYERS:
            return group
        if group == UNTRACED_GROUP:
            return None
        if run_id is not None and group == run_id:
            # The streaming engine's own jobs: count those of traced batches.
            traced = submitted is not None and any(
                a <= submitted <= b for a, b in intervals if b is not None)
            return "streaming.live" if traced else None
        return UNATTRIBUTED

    stages = group_stage_metrics(spark.sparkContext, first_job, job_key)
    w_times = tracer.layer_times(write_roots)
    r_times = tracer.layer_times(read_roots)
    out: dict[str, float] = {}
    for name in PER_LAYER:
        layer, _, f = name.rpartition(".")
        read = layer == "plans.read_api"
        times, n = (r_times, n_r) if read else (w_times, n_w)
        if f in SPAN_FIELDS:
            out[name] = times.get(layer, {}).get(f, 0) / n
        elif layer in LAYERS and f in STAGE_FIELDS:
            out[name] = stages.get(layer, {}).get(f, 0) / n

    batches = [s for s in spans.values() if s.name == BATCH_ROOT]
    overhead = [s.ms - sum(spans[c].ms for c in s.children
                           if spans[c].name == "streaming.live.process_batch")
                for s in batches]
    out["streaming.live.trigger_overhead_ms"] = statistics.mean(overhead) if overhead else 0.0
    c = tracer.counters
    out["sinks.datapoints.files_written"] = c["sinks.datapoints.files_written"] / n_w
    out["sinks.catalog_store.lock_wait_ms"] = c["sinks.catalog_store.lock_wait_ms"] / n_w
    out["sinks.catalog_store.new_series"] = c["sinks.catalog_store.new_series"] / n_w
    out["sinks.lifecycle.files_moved"] = c["sinks.lifecycle.files_moved"] / n_w
    out["plans.read_api.files_read"] = res.files_read / n_r

    csv_bytes = c["ingest.csv_bytes"]
    ingest_input = sum(stages.get(layer, {}).get("input_bytes", 0) for layer in WRITE_LAYERS)
    out["ingest.input_bytes_per_csv_byte"] = ingest_input / csv_bytes if csv_bytes else 0.0

    out["session.jit_ms"] = stats.jit_ms
    out["session.gc_ms"] = stats.gc_ms
    out["host.steal_pct"] = stats.steal_pct
    out["bench.warm_drift_pct"] = warm_drift_pct(untraced_writes(res))

    pct, missing = attribution(tracer, write_roots)
    out["bench.attributed_pct"] = pct
    out["unattributed.wall_ms"] = missing / n_w
    out["unattributed.jobs"] = stages.get(UNATTRIBUTED, {}).get("jobs", 0)

    traced_w = [ms for ms, t in zip(res.write_ms, res.write_traced) if t]
    base = untraced_writes(res)
    out["tracing.overhead_pct"] = (
        100.0 * (statistics.median(traced_w) / statistics.median(base) - 1)
        if traced_w and base else 0.0)
    return {name: out[name] for name in PER_LAYER}
