"""Metric names and units, and the summary statistics every workload
uses. ``BENCHMARK.json`` lists the same names; a self-check pins that.

Every workload reports every metric. A per-layer metric of a layer the
workload never calls reads 0 (no time spent, no work counted there).
"""

from __future__ import annotations

import math
import statistics

#: name → unit. Shown with ``--trace 0``.
END_TO_END = {
    "setup_s": "s",          # session start + input generation + warm-up
    "work_s": "s",           # the operations' fastest times, summed
    "op_geomean_s": "s",     # their geometric mean
}

#: name → unit. Shown with ``--trace 1``.
PER_LAYER = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "work.p50_s": "s",
    "suite.build_s": "s",
    "suite.build_jobs": "count",
    "cache.persisted_rdds": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.cpu_busy_share": "ratio",
    "streaming.catchup_ops_per_s": "1/s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.addBatch_ms": "ms",
    "streaming.trigger_overhead_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.control_collect_s": "s",
    "streaming.state_merge_write_s": "s",
    "streaming.positions_write_s": "s",
    "streaming.commit_gc_s": "s",
    "streaming.buckets_touched_share": "ratio",
    "streaming.state_write_amp": "ratio",
    "streaming.state_files": "count",
    "streaming.positions_partitions": "count",
    "streaming.alive_read_s": "s",
    "control.start_s": "s",
    "control.position_s": "s",
    "trace.work_s": "s",
    "trace.collect_s": "s",
}


def median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def total(values) -> float:
    return float(sum(v for v in values if v is not None))
