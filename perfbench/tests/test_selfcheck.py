"""Self-checks of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator and reference checks take seconds. The two runner checks
start Spark and run one workload each (a few minutes in total).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import cdcgen  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_table_generator_is_byte_identical_per_seed(tmp_path):
    a = datagen.write(str(tmp_path / "a"), 5, 0.001)
    b = datagen.write(str(tmp_path / "b"), 5, 0.001)
    c = datagen.write(str(tmp_path / "c"), 6, 0.001)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    assert all(_bytes(f"{a}/{n}") == _bytes(f"{b}/{n}") for n in names)
    assert _bytes(f"{a}/lineitem.parquet") != _bytes(f"{c}/lineitem.parquet")


def test_op_stream_is_byte_identical_per_seed(tmp_path):
    def stream(seed, tag):
        gen = cdcgen.OpStream(seed)
        paths = []
        for i in range(4):
            paths.append(str(tmp_path / f"{tag}-{i}.parquet"))
            pq.write_table(gen.delta(3_000), paths[-1])
        return paths

    a, b, c = stream(3, "a"), stream(3, "b"), stream(4, "c")
    assert [_bytes(p) for p in a] == [_bytes(p) for p in b]
    assert _bytes(a[-1]) != _bytes(c[-1])


def test_op_stream_mix_and_ties():
    gen = cdcgen.OpStream(11)
    gen.delta(5_000)                      # first delta: inserts only
    tables = [gen.delta(20_000) for _ in range(cdcgen.DROP_EVERY)]
    ops = pa.concat_tables(tables).to_pandas()
    share = ops["op_type"].value_counts(normalize=True)
    assert abs(share["insert"] - 0.60) < 0.01
    assert abs(share["upsert"] - 0.15) < 0.01
    assert abs(share["delete"] - 0.25) < 0.01
    drops = ops[ops["op_type"] == "drop_partition"]
    assert len(drops) == 1
    ins = ops[ops["op_type"].isin(["insert", "upsert"])]
    tied = ins.merge(drops, on=["ts", "collection", "partition"])
    assert len(tied) == 1                 # the drop sits on an insert's ts
    dels = ops[ops["op_type"] == "delete"]
    assert len(ins.merge(dels, on=["ts", "collection", "pk"])) > 0
    assert ops["ts"].is_monotonic_increasing
    assert set(ops["collection"]) == set(cdcgen.COLLECTIONS)
    assert set(ops["vchannel"]) == {f"ch_{i}" for i in range(cdcgen.N_VCHANNELS)}


def test_reference_matches_hand_computed_stream(tmp_path):
    # (ts, op, collection, partition, vchannel, pk)
    rows = [
        (10, "insert", "c0", "p0", "ch_1", 1),
        (20, "insert", "c0", "p1", "ch_2", 2),
        (30, "delete", "c0", "p0", "ch_1", 1),   # pk1 dead ...
        (40, "insert", "c0", "p0", "ch_1", 1),   # ... and back
        (50, "insert", "c0", "p0", "ch_3", 3),
        (50, "drop_partition", "c0", "p0", "ch_0", 0),  # pk3 ties: survives;
        #                                                 pk1 (ts 40) dies
        (60, "delete", "c1", "p0", "ch_4", 4),
        (60, "insert", "c1", "p0", "ch_4", 4),   # insert at a delete's ts
        (70, "upsert", "c0", "p2", "ch_2", 2),   # pk2 moves to p2 ...
        (80, "drop_partition", "c0", "p1", "ch_0", 0),  # ... so p1's drop misses it
    ]
    cols = list(zip(*rows))
    table = pa.table({
        "ts": pa.array(cols[0], pa.int64()), "op_type": cols[1],
        "db": ["default"] * len(rows), "collection": cols[2],
        "partition": cols[3], "vchannel": cols[4],
        "pk": pa.array(cols[5], pa.int64()),
        "num_rows": pa.array([1] * len(rows), pa.int64()),
        "seq": pa.array(range(len(rows)), pa.int64()),
    })
    path = str(tmp_path / "ops.parquet")
    pq.write_table(table, path)
    alive, positions = cdcgen.reference(duckdb.connect(), [path])
    assert alive == {"c0": 2, "c1": 1}
    assert positions == {"ch_0": 80, "ch_1": 40, "ch_2": 70, "ch_3": 50, "ch_4": 60}


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["cdc_replication", "analytics_mix"]


def _run(workload, trace, seed=101):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "40", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    return result


def _assert_units(result, expected):
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == expected
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())


def test_untraced_run_emits_every_end_to_end_metric():
    result = _run("cdc_replication", 0)
    _assert_units(result, metrics.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_emits_every_layer_and_spans_cover_each_query():
    seed = 102
    result = _run("analytics_mix", 1, seed)
    _assert_units(result, metrics.PER_LAYER)
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"trace-analytics_mix-{seed}.json")) as f:
        trace = json.load(f)
    spans = trace["spans"]
    queries = [s for s in spans if s["name"] == "query"]
    assert len(queries) == result["attempted"]
    for q in queries:
        kids = [s for s in spans if s["parent"] == q["id"]]
        assert [k["name"] for k in kids] == ["build", "execute", "record", "check"]
        covered = sum(k["end"] - k["start"] for k in kids)
        assert covered >= 0.99 * (q["end"] - q["start"])
    for rec in trace["records"]:
        # the layer split of a query adds up to its timed wall time
        assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["latency_s"], rel=0.01)
        assert rec["exec_jobs"] >= 1 and rec["analysis_ms"] is not None
