"""Seeded CDC op-stream generator and its DuckDB reference.

The stream is written in the pipeline's ``OPLOG_SCHEMA`` column order.
Keys span 4 collections × 4 partitions × 8 vchannels (a pk always rides
the same vchannel). Each delta is, in stream order:

- 60 % inserts of new pks,
- 15 % upserts of earlier pks (one in four moves the pk to another
  partition),
- 25 % deletes of earlier pks,

and every ``DROP_EVERY``-th delta also carries one ``drop_partition``.
Timestamps are hybrid TSO values (``physical_ms << 18 | logical``) that
rise along the stream, with two deliberate ties: a few deletes share the
ts of an insert of the same pk, and every partition drop shares the ts of
an insert into the dropped partition. Both tied inserts must survive.

:func:`reference_sql` is the independent answer the pipeline is checked
against: alive rows per collection and the position (max ts) per
vchannel, computed by DuckDB straight from the op files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

COLLECTIONS = [f"coll_{i}" for i in range(4)]
PARTITIONS = [f"part_{i}" for i in range(4)]
N_VCHANNELS = 8
DROP_EVERY = 3
#: share of deletes turned into a delete-at-an-insert's-ts tie
TIE_SHARE = 0.01
#: ops per physical millisecond (the logical part counts within it)
OPS_PER_MS = 64
_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

SCHEMA = pa.schema([
    ("ts", pa.int64()), ("op_type", pa.string()), ("db", pa.string()),
    ("collection", pa.string()), ("partition", pa.string()),
    ("vchannel", pa.string()), ("pk", pa.int64()), ("num_rows", pa.int64()),
    ("seq", pa.int64()),
])


class OpStream:
    """Stateful generator: successive :meth:`delta` calls continue one
    stream (new pks never repeat; upserts and deletes hit earlier pks)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0xCDC])
        self.n_ops = 0          # ops emitted so far (= next seq)
        self.n_deltas = 0
        self.pool_pk = np.empty(0, np.int64)   # every pk inserted so far
        self.pool_coll = np.empty(0, np.int64)
        self.pool_part = np.empty(0, np.int64)

    def delta(self, n: int) -> pa.Table:
        rng = self.rng
        n_ins, n_ups = int(n * 0.60), int(n * 0.15)
        n_del = n - n_ins - n_ups
        if len(self.pool_pk) == 0:   # nothing to update yet: all inserts
            n_ins, n_ups, n_del = n, 0, 0
        new_pk = len(self.pool_pk) + np.arange(n_ins, dtype=np.int64)
        new_coll = rng.integers(0, len(COLLECTIONS), n_ins)
        new_part = rng.integers(0, len(PARTITIONS), n_ins)
        up = rng.integers(0, len(self.pool_pk), n_ups) if n_ups else np.empty(0, int)
        moved = rng.random(n_ups) < 0.25
        up_part = np.where(moved, rng.integers(0, len(PARTITIONS), n_ups),
                           self.pool_part[up])
        de = rng.integers(0, len(self.pool_pk), n_del) if n_del else np.empty(0, int)
        # kind: 0 insert, 1 upsert, 2 delete — shuffled into stream order
        kind = np.concatenate([np.zeros(n_ins, int), np.ones(n_ups, int),
                               np.full(n_del, 2)])
        pk = np.concatenate([new_pk, self.pool_pk[up], self.pool_pk[de]])
        coll = np.concatenate([new_coll, self.pool_coll[up], self.pool_coll[de]])
        part = np.concatenate([new_part, up_part, self.pool_part[de]])
        order = rng.permutation(n)
        kind, pk, coll, part = kind[order], pk[order], coll[order], part[order]
        idx = self.n_ops + np.arange(n, dtype=np.int64)
        ts = ((_BASE_MS + idx // OPS_PER_MS) << 18) | (idx % OPS_PER_MS)
        # ties: a delete right after an insert re-targets that insert's
        # pk and takes its ts exactly — the insert must stay alive
        tie = (kind == 2) & (rng.random(n) < TIE_SHARE)
        tie[1:] &= kind[:-1] < 2
        tie[0] = False
        for i in np.flatnonzero(tie):
            pk[i], coll[i], part[i], ts[i] = pk[i - 1], coll[i - 1], part[i - 1], ts[i - 1]
        ins_pos = np.flatnonzero(kind < 2)
        op_type = np.array(["insert", "upsert", "delete"], dtype=object)[kind]
        vch = pk % N_VCHANNELS
        cols = dict(ts=ts, op_type=op_type, coll=coll, part=part, vch=vch, pk=pk)
        self.n_deltas += 1
        if self.n_deltas % DROP_EVERY == 0 and len(ins_pos):
            # a partition drop at exactly the ts of an insert into that
            # partition: the insert survives, older pks there do not
            src = ins_pos[rng.integers(0, len(ins_pos))]
            at = src + 1
            for k, v in cols.items():
                cols[k] = np.insert(v, at, v[src])
            cols["op_type"][at] = "drop_partition"
            cols["pk"][at] = 0
        m = len(cols["ts"])
        table = pa.table([
            pa.array(cols["ts"]),
            pa.array(cols["op_type"]),
            pa.array(["default"] * m),
            pa.array(np.array(COLLECTIONS, dtype=object)[cols["coll"]]),
            pa.array(np.array(PARTITIONS, dtype=object)[cols["part"]]),
            pa.array([f"ch_{v}" for v in cols["vch"]]),
            pa.array(cols["pk"]),
            pa.array(np.ones(m, np.int64)),
            pa.array(self.n_ops + np.arange(m, dtype=np.int64)),
        ], schema=SCHEMA)
        self.n_ops += m
        self.pool_pk = np.concatenate([self.pool_pk, new_pk])
        self.pool_coll = np.concatenate([self.pool_coll, new_coll])
        self.pool_part = np.concatenate([self.pool_part, new_part])
        return table


def _ops(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def reference_sql(files: list[str]) -> tuple[str, str]:
    """DuckDB SQL for (alive rows per collection, position per vchannel)
    after applying every op in ``files``.

    A pk is alive iff its latest insert-like op (ties on ts broken by the
    larger partition name) is at or after its latest delete, at or after
    the latest drop of the partition that insert went to, and at or after
    the latest drop of its collection."""
    ops = _ops(files)
    alive = f"""
    WITH ops AS (SELECT * FROM {ops}),
    latest AS (
      SELECT collection, pk, ts AS ins_ts, partition FROM (
        SELECT collection, pk, ts, partition,
               row_number() OVER (PARTITION BY collection, pk
                                  ORDER BY ts DESC, partition DESC) AS rn
        FROM ops WHERE op_type IN ('insert', 'upsert', 'import')) WHERE rn = 1),
    dels AS (SELECT collection, pk, max(ts) AS del_ts FROM ops
             WHERE op_type = 'delete' GROUP BY ALL),
    pdrop AS (SELECT collection, partition, max(ts) AS pdrop_ts FROM ops
              WHERE op_type = 'drop_partition' GROUP BY ALL),
    cdrop AS (SELECT collection, max(ts) AS cdrop_ts FROM ops
              WHERE op_type = 'drop_collection' GROUP BY ALL)
    SELECT l.collection, count(*) AS alive
    FROM latest l
    LEFT JOIN dels d ON d.collection = l.collection AND d.pk = l.pk
    LEFT JOIN pdrop p ON p.collection = l.collection AND p.partition = l.partition
    LEFT JOIN cdrop c ON c.collection = l.collection
    WHERE (d.del_ts IS NULL OR l.ins_ts >= d.del_ts)
      AND l.ins_ts >= coalesce(p.pdrop_ts, -1)
      AND l.ins_ts >= coalesce(c.cdrop_ts, -1)
    GROUP BY l.collection
    """
    positions = f"SELECT vchannel, max(ts) AS position_ts FROM {ops} GROUP BY vchannel"
    return alive, positions


def reference(con, files: list[str]) -> tuple[dict, dict]:
    """Run :func:`reference_sql` on a DuckDB connection."""
    alive_sql, pos_sql = reference_sql(files)
    alive = {c: int(n) for c, n in con.execute(alive_sql).fetchall()}
    pos = {v: int(t) for v, t in con.execute(pos_sql).fetchall()}
    return alive, pos
