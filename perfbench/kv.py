"""Key-value workloads: the Thrift-shaped store API driven through ``Engine``.

One client thread, closed loop: each call waits for the previous reply.
Every read is materialized (``collect``) and compared with an independent
Python model of the column family. The column family is the ``orders``
table of the repository's seed-42 test data at sf0.01 (15,000 keys x 5
columns), unpivoted into cells by the engine's ingest; the model reads the
same Parquet file with pyarrow and encodes the values on its own.

* ``kv_compacted``: point ``get_slice``, ``multiget_slice`` of 100 keys and
  100-row ``get_range_slices`` pages over the major-compacted store. The
  reads are pre-reconciled and exchange-free.
* ``kv_churn``: the same reads interleaved with durable single-row
  ``batch_mutate`` writes (updates, new keys, row deletions), a
  ``compact_minor_if_needed`` after each write and a major ``compact``
  closing each cycle. Every read merges deltas through the reconcile
  exchange; every write is a Parquet commit. The run ends with a restart
  check: a fresh ``Engine`` on the same root reads back every
  acknowledged write and delete.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import os
import shutil
import statistics
import time
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

KS, CF = "Bench", "Orders"
#: the orders table of the repository's seed-42 test data, sf0.01
ORDERS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01", "orders.parquet")
KEY_COL = "o_orderkey"
COLUMNS = sorted(
    ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus", "o_totalprice"]
)
#: ``compact(now=...)``: fixed, so tombstone GC is the same in every run.
#: Row deletions carry ldt=1, far past gc_grace, so a major compaction
#: purges them and their shadowed cells.
COMPACT_NOW = 2_000_000_000
DELETE_LDT = 1

#: kv_compacted: ops per round, in seeded order within the round. Point
#: reads are the majority, so the median latency is a point read's.
COMPACTED_ROUND = {"point_read": 6, "multiget_100": 2, "range_page_100": 1}
#: kv_churn: one cycle between two major compactions. Each slot is a write
#: (with its minor-compaction check) followed by reads in seeded order. The
#: write kinds sit at fixed places: the row deletion comes first, so every
#: read of the cycle also pays the container-tombstone join, and the point
#: reads, the majority and the median, all read the same kind of state.
#: One deletion and one new key per six writes. A cycle starts with a
#: write, so every read merges at least one delta.
CHURN_CYCLE = [
    ("delete", ["point_read"] * 2),
    ("update", ["point_read"] * 2 + ["multiget_100"]),
    ("new", ["point_read"] * 2),
    ("update", ["point_read"] * 2 + ["range_page_100"]),
    ("update", ["point_read"] * 2),
    ("update", ["point_read"] * 2),
]
#: nominal seconds of one kv_compacted round and one kv_churn cycle on a
#: 4-core box; a run measures round(seconds / nominal) whole units, so
#: every run of a workload does the same work
NOMINAL_S = {"kv_compacted": 2.5, "kv_churn": 15.0}


def token(key: str) -> str:
    """RandomPartitioner token: md5 hex of the key."""
    return hashlib.md5(key.encode()).hexdigest()


def encode(v) -> bytes:
    """A source value as the store keeps it: doubles as decimal(18,4)
    text, timestamps as 'yyyy-MM-dd HH:mm:ss', the rest as plain text."""
    if isinstance(v, float):
        v = Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    elif isinstance(v, dt.datetime):
        v = v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v).encode()


class StoreModel:
    """Independent model of the CF: live cells per key, and the keys that
    still occupy a range-page slot (live, or deleted but not yet purged by
    a major compaction: the reference's "range ghosts")."""

    def __init__(self, orders_path: str) -> None:
        t = pq.read_table(orders_path, columns=[KEY_COL] + COLUMNS)
        self.rows: dict[str, dict[bytes, bytes]] = {
            str(r[KEY_COL]): {c.encode(): encode(r[c]) for c in COLUMNS} for r in t.to_pylist()
        }
        self.base_keys = sorted(self.rows, key=int)
        self._ring = sorted((token(k), k) for k in self.rows)

    def _present(self, key: str) -> None:
        item = (token(key), key)
        i = bisect.bisect_left(self._ring, item)
        if i == len(self._ring) or self._ring[i] != item:
            self._ring.insert(i, item)

    def upsert(self, key: str, cells: dict[bytes, bytes]) -> None:
        self.rows.setdefault(key, {}).update(cells)
        self._present(key)

    def delete(self, key: str) -> None:
        # the row tombstone keeps the key in range pages until a major
        # compaction purges it, even when no cell of the key is left
        self.rows[key] = {}
        self._present(key)

    def major_compacted(self) -> None:
        self.rows = {k: r for k, r in self.rows.items() if r}
        self._ring = [(t, k) for t, k in self._ring if k in self.rows]

    def expect(self, keys) -> set[tuple[str, bytes, bytes]]:
        return {(k, c, v) for k in keys for c, v in self.rows.get(k, {}).items()}

    def page_keys(self, start_token: str, count: int) -> list[str]:
        i = bisect.bisect_right(self._ring, (start_token, "\U0010ffff"))
        return [k for _, k in self._ring[i : i + count]]

    def live_bytes(self) -> int:
        return sum(
            len(k) + len(c) + len(v) for k, r in self.rows.items() for c, v in r.items()
        )


def _got(rows) -> set[tuple[str, bytes, bytes]]:
    return {(r["key"], bytes(r["column"]), bytes(r["value"])) for r in rows}


def parquet_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(os.path.join(root, KS, CF)):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def delta_files(root: str) -> int:
    cells = os.path.join(root, KS, CF, "cells")
    return sum(f.endswith(".parquet") for f in os.listdir(cells)) if os.path.isdir(cells) else 0


class KVWorkload:
    def __init__(self, ctx, name: str) -> None:
        from apache_cassandra_spark.catalog import Catalog
        from apache_cassandra_spark.model import (
            Deletion,
            KeyRange,
            Mutation,
            SlicePredicate,
            SliceRange,
        )

        self.ctx = ctx
        self.name = name
        self.spark = ctx.spark
        self.rng = ctx.rng
        self.tracer = ctx.tracer
        self.catalog = Catalog.from_dict({KS: {CF: {"compare_with": "UTF8Type"}}})
        self.pred = SlicePredicate(slice_range=SliceRange(count=100))
        self.KeyRange, self.Mutation, self.Deletion = KeyRange, Mutation, Deletion
        self.model = StoreModel(ORDERS)
        self.base_keys = self.model.base_keys
        self.all_keys = list(self.base_keys)
        self.next_new_key = int(self.base_keys[-1]) + 1
        self.ts = 1
        self.op_id = 0
        self.attempted = 0
        self.failed = 0
        self.acked: set[str] = set()
        ops = list(COMPACTED_ROUND) if name == "kv_compacted" else list(COMPACTED_ROUND) + ["write"]
        self.samples: dict[str, list[float]] = {op: [] for op in ops}
        self.minor_ms: list[float] = []
        self.minor_runs = 0
        self.compact_s: list[float] = []
        self.delta_files: list[int] = []
        self.user_bytes_written = 0

    # -- set-up --------------------------------------------------------------
    def build_store(self, root: str):
        """Bulk-load the orders table, unpivoted into cells by the engine's
        ingest, into a fresh store and major-compact it."""
        from apache_cassandra_spark.engine import Engine
        from apache_cassandra_spark.queries import TABLES
        from apache_cassandra_spark.sources.ingest import cells_from_table

        engine = Engine(self.spark, root, self.catalog)
        orders = self.spark.read.parquet(ORDERS)
        cells = cells_from_table(orders, KEY_COL, sorted(TABLES["orders"]["cols"]))
        engine.store.bulk_load(KS, CF, cells)
        engine.compact(KS, CF, now=COMPACT_NOW)
        return engine

    def setup(self, reps: int) -> list[float]:
        times = []
        for i in range(reps):
            root = os.path.join(self.ctx.work, f"store{i}")
            t0 = time.perf_counter()
            engine = self.build_store(root)
            times.append(time.perf_counter() - t0)
            if i < reps - 1:
                self.spark.catalog.clearCache()
                shutil.rmtree(root, ignore_errors=True)
        self.root, self.engine = root, engine
        self._instrument(engine)
        return times

    def _instrument(self, engine) -> None:
        """Traced run: wrap the store's bind and commit entry points so
        their time shows as child spans of the engine call."""
        if not self.tracer.enabled:
            return
        store, tracer = engine.store, self.tracer

        def wrap(name, fn):
            def timed(*a, **kw):
                with tracer.span(name, self.op_id):
                    return fn(*a, **kw)

            return timed

        store.cf = wrap("cellstore.bind", store.cf)
        store.apply = wrap("cellstore.apply", store.apply)

    @staticmethod
    def _uninstrument(engine) -> None:
        """Drop the wrappers: the class's own methods show through again."""
        del engine.store.cf, engine.store.apply

    # -- client operations ----------------------------------------------------
    def _gauss_key(self) -> str:
        """py_stress key choice: gaussian over the N base keys in key
        order, around N/2, stdev 0.1 N."""
        n = len(self.base_keys)
        while True:
            i = int(self.rng.gauss(n / 2, 0.1 * n))
            if 0 <= i < n:
                return self.base_keys[i]

    def _read(self, op: str, arg, call, expected) -> float:
        self.ctx.log_input(op, arg)
        t = self.tracer
        with t.span(f"op.{op}", self.op_id, spark_counters=True):
            t0 = time.perf_counter()
            with t.span(f"engine.{op}.call", self.op_id):
                df = call()
            with t.span(f"spark.{op}.action", self.op_id):
                rows = df.collect()
            ms = (time.perf_counter() - t0) * 1e3
        if _got(rows) != expected():
            print(f"{op}: result differs from the model", flush=True)
            self.failed += 1
        return ms

    def point_read(self) -> float:
        key = self._gauss_key()
        return self._read(
            "point_read",
            key,
            lambda: self.engine.get_slice(KS, key, CF, self.pred),
            lambda: self.model.expect([key]),
        )

    def multiget_100(self) -> float:
        keys = sorted({self._gauss_key() for _ in range(100)})
        return self._read(
            "multiget_100",
            keys,
            lambda: self.engine.multiget_slice(KS, keys, CF, self.pred),
            lambda: self.model.expect(keys),
        )

    def range_page_100(self) -> float:
        start = token(self.rng.choice(self.all_keys))
        kr = self.KeyRange(start_token=start, end_token="", count=100)
        return self._read(
            "range_page_100",
            start,
            lambda: self.engine.get_range_slices(KS, CF, self.pred, kr),
            lambda: self.model.expect(self.model.page_keys(start, 100)),
        )

    def write(self, kind: str) -> float:
        """One durable single-row batch_mutate: ``delete`` removes a row,
        ``new`` inserts a new key with every column, ``update`` sets 1-5
        columns of an existing key."""
        self.ts += 1
        if kind == "delete":
            key = self._gauss_key()
            muts = [self.Mutation(deletion=self.Deletion(timestamp=self.ts))]
            cells = None
        else:
            if kind == "new":
                key, cols = str(self.next_new_key), COLUMNS
                self.next_new_key += 1
                self.all_keys.append(key)
            else:
                key = self._gauss_key()
                cols = sorted(self.rng.sample(COLUMNS, self.rng.randint(1, len(COLUMNS))))
            cells = {c.encode(): f"w{self.ts}:{self.rng.getrandbits(32):08x}".encode() for c in cols}
            muts = [
                self.Mutation(column_name=c, value=v, timestamp=self.ts) for c, v in cells.items()
            ]
        self.ctx.log_input("write", key, cells)
        t = self.tracer
        with t.span("op.write", self.op_id, spark_counters=True):
            t0 = time.perf_counter()
            with t.span("engine.write.call", self.op_id):
                self.engine.batch_mutate(KS, {key: {CF: muts}}, ldt=DELETE_LDT)
            ms = (time.perf_counter() - t0) * 1e3
        # acknowledged: the model and the restart check now expect it
        self.acked.add(key)
        if cells is None:
            self.model.delete(key)
            self.user_bytes_written += len(key)
        else:
            self.model.upsert(key, cells)
            self.user_bytes_written += sum(len(key) + len(c) + len(v) for c, v in cells.items())
        t0 = time.perf_counter()
        with t.span("maintenance.minor", self.op_id, spark_counters=True):
            ran = self.engine.compact_minor_if_needed(KS, CF)
        if ran:
            self.minor_runs += 1
            self.minor_ms.append((time.perf_counter() - t0) * 1e3)
        self.delta_files.append(delta_files(self.root))
        return ms

    def major_compact(self) -> None:
        self.op_id += 1
        t0 = time.perf_counter()
        with self.tracer.span("maintenance.compact", self.op_id, spark_counters=True):
            self.engine.compact(KS, CF, now=COMPACT_NOW)
        self.compact_s.append(time.perf_counter() - t0)
        self.model.major_compacted()

    def run_op(self, op: str, record: bool, *args) -> None:
        self.op_id += 1
        self.attempted += 1
        try:
            ms = getattr(self, op)(*args)
        except Exception as e:  # a failed call counts in error_rate
            print(f"{op} failed: {e!r}"[:500], flush=True)
            self.failed += 1
            return
        if record:
            self.samples[op].append(ms)

    def _shuffled(self, ops: list[str]) -> list[str]:
        ops = list(ops)
        self.rng.shuffle(ops)
        self.ctx.log_input("order", ops)
        return ops

    def round(self, record: bool, cycle=CHURN_CYCLE) -> None:
        """kv_compacted: one round of reads; kv_churn: one cycle of writes
        and reads, closed by a major compaction."""
        if self.name == "kv_compacted":
            ops = [op for op, k in COMPACTED_ROUND.items() for _ in range(k)]
            for op in self._shuffled(ops):
                self.run_op(op, record)
            return
        for kind, reads in cycle:
            self.run_op("write", record, kind)
            for op in self._shuffled(reads):
                self.run_op(op, record)
        self.major_compact()

    def warmup(self) -> None:
        """Untimed: every operation once (first-use codegen, page cache).
        kv_churn runs a one-slot cycle that also reads a row tombstone."""
        self.round(record=False, cycle=[("delete", ["point_read", "multiget_100", "range_page_100"])])

    def measure(self, seconds: float) -> float:
        """The timed window: a fixed number of whole rounds sized so the
        window lasts about ``seconds``; returns wall seconds."""
        t0 = time.perf_counter()
        for _ in range(max(1, round(seconds / NOMINAL_S[self.name]))):
            self.round(record=True)
        return time.perf_counter() - t0

    def restart_check(self) -> None:
        """Open a fresh Engine on the same root, as a restarted process
        would, and read back every acknowledged write and delete."""
        from apache_cassandra_spark.engine import Engine, restore_store_kwargs

        self.spark.catalog.clearCache()
        fresh = Engine(self.spark, self.root, self.catalog, **restore_store_kwargs(self.root))
        keys = sorted(self.acked)
        self.attempted += 1
        rows = fresh.multiget_slice(KS, keys, CF, self.pred).collect()
        missing = self.model.expect(keys) ^ _got(rows)
        if missing:
            print(f"restart check: {len(missing)} cells differ", flush=True)
            self.failed += 1
