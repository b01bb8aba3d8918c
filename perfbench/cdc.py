"""The ``cdc_replication`` workload: one replication task driven through
``TaskRegistry`` (a closed loop with one caller).

- Catch-up (set-up): a backlog of ``BACKLOG_FILES`` op files is already
  in the source dir when the task is created; one ``start`` drains it,
  cold, as after a restart. Its time counts in ``setup_s``, which also
  makes it the warm-up of the timed phase.
- Deltas: ``N_DELTAS`` files of ``DELTA_OPS`` ops are renamed into the
  source dir one at a time. After each rename the caller runs ``start``,
  then ``handle(position)``, then reads alive rows per collection from
  the task's pipeline; the next delta lands only after that read returns.

Each delta is one sample of two operations: ``apply`` (its apply lag) and
``read`` (the alive read). The deltas after the catch-up run on a warming
JVM (on a 4-core host the first took 3.7-4.4 s and the lag still fell, to
2.3-3.0 s, by the sixth); as the runner reports each operation at its
fastest sample, the early ones only count when nothing later was faster.
The apply lag of a delta runs from its rename until ``position`` reports
the delta's max ts on every vchannel it touched. After each step the
positions and alive counts are compared with the DuckDB reference over
the files landed so far (outside the timed interval); a mismatch counts
as a failed operation. A call that raises ends the run without a
result: the task's later deltas would be meaningless.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow.parquet as pq

import cdcgen
import metrics
import spans as tr

BACKLOG_FILES, BACKLOG_OPS = 4, 2_500
N_DELTAS, DELTA_OPS = 6, 20_000


def _du(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular non-hidden files under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _stage(ctx) -> tuple[str, list[str], list[str], dict]:
    src, stage = os.path.join(ctx.work, "source"), os.path.join(ctx.work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    gen = cdcgen.OpStream(ctx.seed)
    backlog, deltas, delta_max = [], [], {}
    for i in range(BACKLOG_FILES):
        path = os.path.join(src, f"backlog-{i:03d}.parquet")
        pq.write_table(gen.delta(BACKLOG_OPS), path)
        backlog.append(path)
    for i in range(N_DELTAS):
        table = gen.delta(DELTA_OPS)
        path = os.path.join(stage, f"delta-{i:05d}.parquet")
        pq.write_table(table, path)
        deltas.append(path)
        pdf = table.select(["vchannel", "ts"]).to_pandas()
        delta_max[path] = pdf.groupby("vchannel")["ts"].max().to_dict()
    return src, backlog, deltas, delta_max


def _alive(pipeline) -> list:
    return pipeline.alive().groupBy("collection").count().collect()


def _check(con, landed, alive, positions) -> list[str]:
    want_alive, want_pos = cdcgen.reference(con, landed)
    got_alive = {r["collection"]: r["count"] for r in alive}
    got_pos = {p["vchannel"]: p["position_ts"] for p in positions}
    problems = []
    if got_alive != want_alive:
        problems.append(f"alive {got_alive} != reference {want_alive}")
    if got_pos != want_pos:
        problems.append(f"positions {got_pos} != reference {want_pos}")
    return problems


def _position_req(task_id: str) -> dict:
    return {"request_type": "position", "request_data": {"task_id": task_id}}


def run(spark, ctx) -> dict:
    import duckdb

    from milvus_cdc_spark.control.tasks import TaskRegistry

    t = time.perf_counter()
    src, backlog, deltas, delta_max = _stage(ctx)
    ctx.setup_s += time.perf_counter() - t

    tracer = ctx.tracer
    recorder = None
    if tracer:
        recorder = tr.ProgressRecorder()
        spark.streams.addListener(recorder)
    con = duckdb.connect()
    registry = TaskRegistry(spark, os.path.join(ctx.work, "tasks"))
    tid = registry.handle(
        {"request_type": "create", "request_data": {"source_dir": src}}
    )["task_id"]
    position_req = _position_req(tid)
    attempted, failed = 0, 0

    def fail(what, problems):
        nonlocal failed
        failed += 1
        print(f"MISMATCH {what}: {problems}", file=sys.stderr)

    with ctx.span("catchup", "setup"):
        t0 = time.perf_counter()
        registry.start(tid)
        catchup_s = time.perf_counter() - t0
    ctx.setup_s += catchup_s
    print(f"perfbench: catch-up {catchup_s:.3f} s", file=sys.stderr)
    pipeline = registry.pipelines[tid]
    attempted += 1
    problems = _check(con, backlog, _alive(pipeline),
                      registry.handle(position_req)["positions"])
    if problems:
        fail("catch-up", problems)

    landed = list(backlog)
    lags, reads, starts, positions_s, cycles = [], [], [], [], []
    delta_stats = []
    for i, staged in enumerate(deltas):
        trace_id = f"delta:{i}"
        dest = os.path.join(src, os.path.basename(staged))
        n_batches = len(pipeline.phase_timings)
        with ctx.span("delta", trace_id):
            if tracer:
                spark.sparkContext.setJobGroup(f"{trace_id}:control", trace_id)
            with ctx.span("land", trace_id):
                t0 = time.perf_counter()
                os.rename(staged, dest)
            with ctx.span("start", trace_id):
                registry.start(tid)
                t1 = time.perf_counter()
            with ctx.span("position", trace_id):
                pos = registry.handle(position_req)["positions"]
                t2 = time.perf_counter()
            with ctx.span("read", trace_id):
                alive = _alive(pipeline)
                t3 = time.perf_counter()
            if tracer:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        landed.append(dest)
        attempted += 1
        reported = {p["vchannel"]: p["position_ts"] for p in pos}
        behind = {v: ts for v, ts in delta_max[staged].items()
                  if reported.get(v, -1) < ts}
        problems = _check(con, landed, alive, pos)
        if behind:
            problems.append(f"position behind the delta on {sorted(behind)}")
        if problems:
            fail(f"delta {i}", problems)
        print(f"perfbench: delta {i} apply lag {t2 - t0:.3f} s, read {t3 - t2:.3f} s",
              file=sys.stderr)
        lags.append(t2 - t0)
        starts.append(t1 - t0)
        positions_s.append(t2 - t1)
        reads.append(t3 - t2)
        cycles.append(t3 - t0)
        if tracer:
            delta_stats.append(_delta_stats(ctx, pipeline, n_batches, dest))
    con.close()

    out = {"attempted": attempted, "failed": failed,
           "samples": {"apply": lags, "read": reads}, "records": []}
    if tracer:
        out["layers"], out["records"] = _layers(
            spark, ctx, recorder, catchup_s, starts, positions_s,
            reads, cycles, delta_stats)
    return out


def _delta_stats(ctx, pipeline, n_batches_before, delta_path) -> dict:
    """After one delta: its microbatches' phase timings, touched-bucket
    share and write amplification (from MANIFEST.json and the state dir),
    and the state / positions file counts."""
    with ctx.tracer.collecting():
        with open(os.path.join(pipeline.state_dir, "MANIFEST.json")) as f:
            manifest = json.load(f)
        batches = pipeline.phase_timings[n_batches_before:]
        ids = {b["batch_id"] for b in batches}
        touched = sum(1 for v in manifest["buckets"].values() if v in ids)
        written = sum(
            _du(os.path.join(pipeline.state_dir, f"v{b}"))[1] for b in ids)
        state_files = _du(pipeline.state_dir)[0]
        pos_parts = sum(
            1 for d in os.listdir(pipeline.positions_dir) if d.startswith("batch_id="))
        return {
            "batches": batches,
            "buckets_touched_share": touched / manifest["n_buckets"],
            "state_write_amp": written / os.path.getsize(delta_path),
            "state_files": state_files,
            "positions_partitions": pos_parts,
        }


def _layers(spark, ctx, recorder, catchup_s, starts, positions_s,
            reads, cycles, delta_stats):
    tracer = ctx.tracer
    with tracer.collecting():
        recorder.wait_terminated(1 + len(starts))
        progress = recorder.batches
        runs = list(dict.fromkeys(b["run_id"] for b in progress))
        # the timed phase's jobs: every delta's streaming run (its job
        # group is the run id) plus its position and read calls
        timed_runs = runs[1:]
        jobs = [tr.group_jobs(spark, g) for g in timed_runs]
        jobs += [tr.group_jobs(spark, f"delta:{i}:control")
                 for i in range(len(starts))]
    catchup_rows = sum(b["rows"] for b in progress if b["run_id"] == runs[0])
    delta_batches = [b for b in progress if b["run_id"] in timed_runs and b["rows"]]
    # microbatch spans rebuilt from the progress timestamps, each under the
    # start / catch-up call it ran in; phases are laid out back to back
    # from the trigger start, in execution order
    callers = [s for s in tracer.spans if s["name"] in ("catchup", "start")]
    for b in progress:
        start = tracer.from_epoch_ms(b["start_ms"])
        trig = b["phases"].get("triggerExecution", 0.0) / 1000.0
        caller = next((s for s in callers if s["start"] <= start <= s["end"]), None)
        parent = tracer.add("microbatch", start, start + trig, b["run_id"],
                            caller and caller["id"], batch_id=b["batch_id"],
                            rows=b["rows"])
        at = start
        for phase in tr.STREAM_PHASES:
            d = b["phases"].get(phase, 0.0) / 1000.0
            if d:
                tracer.add(phase, at, at + d, b["run_id"], parent)
                at += d

    def phase(name):
        return metrics.median(b["phases"].get(name, 0.0) for b in delta_batches)

    def timing(name):
        return metrics.median(
            t[name] for d in delta_stats for t in d["batches"])

    def stat(name):
        return metrics.median(d[name] for d in delta_stats)

    run_s = metrics.total(j["run_s"] for j in jobs)
    exec_s = sum(cycles)
    layers = {
        "streaming.catchup_ops_per_s": BACKLOG_FILES * BACKLOG_OPS / catchup_s,
        "streaming.drain_s": metrics.median(
            sum(b["phases"].get("triggerExecution", 0.0) for b in progress
                if b["run_id"] == r) / 1000.0
            for r in timed_runs),
        "streaming.batches": len(delta_batches),
        "streaming.addBatch_ms": phase("addBatch"),
        "streaming.trigger_overhead_ms": metrics.median(
            b["phases"].get("triggerExecution", 0.0) - b["phases"].get("addBatch", 0.0)
            for b in delta_batches),
        "streaming.walCommit_ms": phase("walCommit"),
        "streaming.commitOffsets_ms": phase("commitOffsets"),
        "streaming.latestOffset_ms": phase("latestOffset"),
        "streaming.queryPlanning_ms": phase("queryPlanning"),
        "streaming.control_collect_s": timing("control_collect"),
        "streaming.state_merge_write_s": timing("state_merge_write"),
        "streaming.positions_write_s": timing("positions_write"),
        "streaming.commit_gc_s": timing("commit_gc"),
        "streaming.buckets_touched_share": stat("buckets_touched_share"),
        "streaming.state_write_amp": stat("state_write_amp"),
        "streaming.state_files": delta_stats[-1]["state_files"],
        "streaming.positions_partitions": delta_stats[-1]["positions_partitions"],
        "streaming.alive_read_s": metrics.median(reads),
        "control.start_s": metrics.median(starts),
        "control.position_s": metrics.median(positions_s),
        "exec.s": exec_s,
        "exec.jobs": metrics.total(j["jobs"] for j in jobs),
        "exec.stages": metrics.total(j["stages"] for j in jobs),
        "exec.tasks": metrics.total(j["tasks"] for j in jobs),
        "exec.failed_tasks": metrics.total(j["failed_tasks"] for j in jobs),
        "exec.shuffle_read_bytes": metrics.total(j["shuffle_read_bytes"] for j in jobs),
        "exec.shuffle_write_bytes": metrics.total(j["shuffle_write_bytes"] for j in jobs),
        "exec.cpu_busy_share": run_s / (exec_s * ctx.cores),
    }
    records = [{"catchup_rows": catchup_rows, "deltas": delta_stats}]
    return layers, records
