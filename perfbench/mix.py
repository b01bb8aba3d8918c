"""The ``analytics_mix`` workload: oracle-checked suite queries, one at a
time, in seed-permuted order (a closed loop with one caller).

For each query the timed interval is ``spec.fn(spark, sf_dir)`` (the
build, which runs any eager training jobs) followed by ``toPandas()``
(every output column materialized the way the oracle consumes it). The
DuckDB oracle comparison and ``clearCache()`` run after the interval.

Set-up runs every query once at sf 0.001 first, so the timed runs find
the JVM warm and their code generated; run cold, the first query's time
swung by half from run to run.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import datagen
import metrics
import spans as tr
from verify_local import compare_frames

#: The timed queries: semantic dedup with eager k-means training and
#: persisted frames (ROADMAP directions 3 and 4), expression-heavy text
#: scoring, batch CDC replay, and relational plans where Catalyst and the
#: per-query floor are a large share.
QUERIES = [
    "semdedup_prune",
    "text_quality",
    "cdc_replay_summary",
    "session_window_agg",
    "q1_pricing_summary",
]
SF, WARM_SF = 0.01, 0.001


def _oracle(con, sf_dir: str):
    from milvus_cdc_spark.catalog import TABLES

    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _query_record(spark, tracer, name, trace_id, df, build, execute, cores):
    """Per-query layer record from Spark's status surfaces. Also adds the
    Catalyst phases and the span of each job group as child spans of the
    build or execute span they fall in."""
    with tracer.collecting():
        b = tr.group_jobs(spark, f"{trace_id}:build")
        e = tr.group_jobs(spark, f"{trace_id}:exec")
        phases = tr.catalyst_phases(df)
        persisted = tr.persisted_rdds(spark)
    children = [(f"catalyst.{k}", v) for k, v in phases.items()]
    children += [("jobs", (g["first_ms"], g["last_ms"])) for g in (b, e)]
    for span_name, interval in children:
        if interval is None or None in interval:
            continue
        start, end = (tracer.from_epoch_ms(ms) for ms in interval)
        parent = build if start < build["end"] else execute
        tracer.add(span_name, start, end, trace_id, parent["id"])
    exec_s = execute["end"] - execute["start"]
    busy = None
    if e["run_s"] is not None:
        busy = e["run_s"] / (exec_s * cores)
    return {
        "query": name, "build_s": build["end"] - build["start"],
        "build_jobs": b["jobs"], "exec_s": exec_s,
        "exec_jobs": e["jobs"], "exec_stages": e["stages"],
        "exec_tasks": e["tasks"], "exec_failed_tasks": e["failed_tasks"],
        "shuffle_read_bytes": e["shuffle_read_bytes"],
        "shuffle_write_bytes": e["shuffle_write_bytes"],
        "exec_run_s": e["run_s"], "cpu_busy_share": busy,
        "persisted_rdds": persisted,
        **{f"{k}_ms": v and v[1] - v[0] for k, v in phases.items()},
    }


def _run_query(spark, ctx, name, spec, trace_id, sf_dir, con, latencies, records):
    """Time one query (build, then materialize), record its layers when
    traced, then compare it with the oracle. Returns the problems found."""
    tracer, sc = ctx.tracer, spark.sparkContext
    with ctx.span("query", trace_id):
        if tracer:
            sc.setJobGroup(f"{trace_id}:build", name)
        with ctx.span("build", trace_id) as build:
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
        if tracer:
            sc.setJobGroup(f"{trace_id}:exec", name)
        with ctx.span("execute", trace_id) as execute:
            pdf = df.toPandas()
            t2 = time.perf_counter()
        if tracer:
            sc.setLocalProperty("spark.jobGroup.id", None)
            with ctx.span("record", trace_id):
                records.append(_query_record(
                    spark, tracer, name, trace_id, df, build, execute, ctx.cores))
                records[-1]["latency_s"] = t2 - t0
        with ctx.span("check", trace_id):
            spark.catalog.clearCache()
            problems = compare_frames(pdf, con.execute(spec.oracle).df())
    latencies.append(t2 - t0)
    print(f"perfbench: {name} build {t1 - t0:.3f} s, materialize {t2 - t1:.3f} s",
          file=sys.stderr)
    return problems


def run(spark, ctx) -> dict:
    import duckdb

    from milvus_cdc_spark import suite

    t = time.perf_counter()
    sf_dir = datagen.write(os.path.join(ctx.work, "sf"), ctx.seed, SF)
    warm_dir = datagen.write(os.path.join(ctx.work, "sf_warm"), ctx.seed, WARM_SF)
    with ctx.span("warmup", "setup"):
        for name in QUERIES:
            t0 = time.perf_counter()
            suite.QUERIES[name].fn(spark, warm_dir).toPandas()
            spark.catalog.clearCache()
            print(f"perfbench: {name} warm-up {time.perf_counter() - t0:.3f} s",
                  file=sys.stderr)
    ctx.setup_s += time.perf_counter() - t

    con = _oracle(duckdb.connect(), sf_dir)
    samples = {name: [] for name in QUERIES}
    records, failed = [], 0
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    for name in order:
        spec = suite.QUERIES[name]
        trace_id = f"q:{name}"
        try:
            problems = _run_query(spark, ctx, name, spec, trace_id, sf_dir, con,
                                  samples[name], records)
        except Exception:
            # a query that raises counts as failed; the mix goes on
            problems = ["raised"]
            traceback.print_exc()
        if problems:
            failed += 1
            print(f"MISMATCH {name}: {problems[:3]}", file=sys.stderr)
    con.close()

    # one sample per query: a second pass would not fit the run's time
    out = {"attempted": len(QUERIES), "failed": failed, "samples": samples,
           "records": records}
    if ctx.tracer:
        exec_s = metrics.total(r["exec_s"] for r in records)
        run_s = metrics.total(r["exec_run_s"] for r in records)
        out["layers"] = {
            "suite.build_s": metrics.total(r["build_s"] for r in records),
            "suite.build_jobs": metrics.total(r["build_jobs"] for r in records),
            "cache.persisted_rdds": metrics.total(r["persisted_rdds"] for r in records),
            "catalyst.analysis_ms": metrics.total(r["analysis_ms"] for r in records),
            "catalyst.optimization_ms": metrics.total(
                r["optimization_ms"] for r in records),
            "catalyst.planning_ms": metrics.total(r["planning_ms"] for r in records),
            "exec.s": exec_s,
            "exec.jobs": metrics.total(r["exec_jobs"] for r in records),
            "exec.stages": metrics.total(r["exec_stages"] for r in records),
            "exec.tasks": metrics.total(r["exec_tasks"] for r in records),
            "exec.failed_tasks": metrics.total(r["exec_failed_tasks"] for r in records),
            "exec.shuffle_read_bytes": metrics.total(
                r["shuffle_read_bytes"] for r in records),
            "exec.shuffle_write_bytes": metrics.total(
                r["shuffle_write_bytes"] for r in records),
            "exec.cpu_busy_share": run_s / (exec_s * ctx.cores) if exec_s else 0.0,
        }
    return out
