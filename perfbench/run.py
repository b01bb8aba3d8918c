"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_replication --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The runner builds its session with the
program's own ``session.get_spark`` and drives the program only through
its public entry points (``control.tasks.TaskRegistry`` and the
``suite.QUERIES`` registry); the streaming pipeline is reached through the
task. Inputs are generated from ``--seed`` under ``.perfbench_work/`` in
the checkout and removed at exit.

Workloads:

- ``cdc_replication`` (cdc.py): backlog catch-up, then deltas landed one
  at a time; the operations are a delta's apply (rename until
  ``position`` covers it) and the alive read after it.
- ``analytics_mix`` (mix.py): oracle-checked suite queries; an operation
  is one query's build + materialize time.

Every output is checked (DuckDB oracle or DuckDB reference) after its
timed interval. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of metrics.END_TO_END; with ``--trace 1`` the
per-layer metrics of metrics.PER_LAYER, from a run that also records
spans and writes them, with the per-query / per-delta records and the
self time per span name, to ``.perfbench_out/``.

The CDC task applies and reads ``cdc.N_DELTAS`` deltas, each one more
sample of both of its operations; the mix runs each query once. An
operation's time is the fastest of its samples: on a shared host,
interference (CPU steal, a neighbour's burst) only ever adds time, and
the fastest sample is the one it touched least. The per-layer
``work.p50_s`` sums the samples' medians instead.

End-to-end metrics: ``setup_s`` (session start, input generation, and
the warm-up queries or the backlog catch-up),
``work_s`` (the operations' times, summed: one pass of the mix, or one
delta's apply + read) and ``op_geomean_s`` (their geometric mean).

Each run does a fixed amount of work, so runs stay comparable across
hosts and commits; ``--seconds`` is the nominal length of the timed phase
on a 4-core host and is recorded with the spans.

Environment, pinned here before the JVM starts:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use (``nproc``);
- ``SPARK_DRIVER_MEMORY`` = 4g (``get_spark`` defaults to 24g);
- ``PYTHONPATH`` gains the checkout root, so Python workers can import
  the package;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` point
  inside the work dir;
- the program's measurement overrides (``SPARK_GRAFT_CDC_FPT``,
  ``_CDC_BUCKETS``, ``_CDC_OVERLAP``, ``_EXTRA_CONF``,
  ``_MIN_PARTITION_SIZE``, ``_MAX_PARTITION_BYTES``) are removed, so the
  defaults are measured.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_replication", "analytics_mix")
OVERRIDES = (
    "SPARK_GRAFT_CDC_FPT", "SPARK_GRAFT_CDC_BUCKETS", "SPARK_GRAFT_CDC_OVERLAP",
    "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MIN_PARTITION_SIZE",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
)
DRIVER_MEMORY = "4g"


class Context:
    """What a workload gets besides the session: its seed and work dir,
    the set-up clock it adds to, and the tracer (None when untraced)."""

    def __init__(self, seed: int, work: str, cores: int, tracer) -> None:
        self.seed, self.work, self.cores, self.tracer = seed, work, cores, tracer
        self.setup_s = 0.0

    def span(self, name: str, trace_id: str):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, trace_id)


def pin_env(work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for key in OVERRIDES:
        os.environ.pop(key, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for p in (ROOT, os.path.join(ROOT, "scripts")):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cores


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit: the gateway JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "milvus_cdc_spark", "session.py")):
        print("perfbench: run from a checkout of the program", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = pin_env(work)
    # the program and Spark may print; the result line must be last
    real_stdout, sys.stdout = sys.stdout, sys.stderr
    try:
        result = run(args, work, cores)
    finally:
        sys.stdout = real_stdout
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, cores: int) -> dict:
    import metrics
    import spans as tr

    tracer = tr.Tracer() if args.trace else None
    ctx = Context(args.seed, work, cores, tracer)
    t = time.perf_counter()
    with ctx.span("session", "setup"):
        from milvus_cdc_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    ctx.setup_s = start_s
    try:
        if args.workload == "cdc_replication":
            import cdc as workload
        else:
            import mix as workload
        with ctx.span("workload", args.workload):
            out = workload.run(spark, ctx)
        rss = tr.jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)

    fastest = [min(v) for v in out["samples"].values() if v]
    if not fastest:
        raise RuntimeError("every timed operation failed")
    e2e = {"setup_s": ctx.setup_s, "work_s": sum(fastest),
           "op_geomean_s": metrics.geomean(fastest)}
    if tracer:
        layers = {name: 0.0 for name in metrics.PER_LAYER}
        layers.update(out["layers"])
        layers["session.start_s"] = start_s
        layers["jvm.peak_rss_mb"] = rss
        layers["work.p50_s"] = sum(
            metrics.median(v) for v in out["samples"].values() if v)
        layers["trace.work_s"] = e2e["work_s"]
        layers["trace.collect_s"] = tracer.collect_s
        values, units = layers, metrics.PER_LAYER
        write_trace(args, tracer, out["records"], e2e)
    else:
        values, units = e2e, metrics.END_TO_END
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in units.items()
        },
    }


def write_trace(args, tracer, records, e2e) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "end_to_end": e2e, "self_time_s": tracer.self_times(),
            "records": records, "spans": tracer.spans,
        }, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
