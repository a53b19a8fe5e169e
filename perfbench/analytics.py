"""Analytics workload: passes over declared queries, each timed as its
build (the query function: plan building plus any eager checkpoints or
AQE-forced jobs) and a full materialization of every column by
``collect()`` (``count()`` would let Catalyst prune columns).

The inputs are the repository's seed-42 test tables at sf0.01, copied
into ``perfbench/data/sf0.01`` so a run reads only its own checkout.

Once per run, before the timed passes, every query is checked against its
DuckDB oracle by the rule of ``tools/check_oracle.py`` (whose helpers it
uses): same column names, same row count, and equal order-insensitive
normalized values, with no decimal or nested column on either side. That
pass is also the warm-up, on the same ``collect()`` path the timed passes
take; its Spark time is part of the workload's set-up.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.types as pat

from tools.check_oracle import nonscalar_arrow_cols, nonscalar_spark_cols, norm_rows

#: the repository's seed-42 test data at sf0.01, the tables these queries read
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: JVM-only queries: LWW reconcile with container tombstones (the
#: engine's flagship), a three-way TPC-H join, and the dedup
#: connected-components fixpoint, which builds its plan over tens of jobs
JVM_QUERIES = [
    "cass_lww_row_tombstones",
    "tpch_q18ish",
    "dedup_groups_star",
]
#: queries whose plans cross the Python worker boundary (MapInPandas)
PYTHON_QUERIES = [
    "media_decode_png",
    "media_audio_features",
]
#: nominal seconds of one warm pass on a 4-core box; a run measures
#: round(seconds / NOMINAL_PASS_S) whole passes
NOMINAL_PASS_S = 6.0
QUERIES = JVM_QUERIES + PYTHON_QUERIES


def oracle_mismatch(sdf, s_rows, con, sql: str) -> str | None:
    """None when Spark's rows equal the oracle's, else the reason."""
    if nested := nonscalar_spark_cols(sdf.schema):
        return f"spark emits nested columns {nested}"
    tbl = con.execute(sql).arrow()
    bad = [f.name for f in tbl.schema if pat.is_decimal(f.type)] + nonscalar_arrow_cols(tbl.schema)
    if bad:
        return f"oracle emits decimal or nested columns {bad}"
    s_cols, d_cols = sdf.columns, list(tbl.column_names)
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    d_rows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns))))
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} != {len(d_rows)}"
    if norm_rows(s_cols, s_rows) != norm_rows(d_cols, d_rows):
        return "values differ"
    return None


class AnalyticsWorkload:
    def __init__(self, ctx) -> None:
        from apache_cassandra_spark.queries import ORACLES
        from apache_cassandra_spark.queries import QUERIES as ALL

        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = ctx.rng
        self.tracer = ctx.tracer
        self.fns = {q: ALL[q] for q in QUERIES}
        self.oracles = {q: ORACLES[q] for q in QUERIES}
        self.attempted = 0
        self.failed = 0
        self.op_id = 0
        self.build_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.run_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.pass_s: dict[str, list[float]] = {"jvm": [], "python": []}

    def _order(self) -> list[str]:
        order = list(QUERIES)
        self.rng.shuffle(order)
        self.ctx.log_input("pass", order)
        return order

    def check(self) -> float:
        """Every query once, compared with its DuckDB oracle: the warm-up
        pass. Returns the Spark seconds of the pass (each query's build
        plus ``collect()``, without the oracle's time)."""
        con = duckdb.connect()
        spark_s = 0.0
        try:
            for f in sorted(os.listdir(SF_DIR)):
                name = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{f}'")
            for q in self._order():
                self.attempted += 1
                self.spark.catalog.clearCache()
                try:
                    t0 = time.perf_counter()
                    sdf = self.fns[q](self.spark, SF_DIR)
                    rows = [tuple(r) for r in sdf.collect()]
                    spark_s += time.perf_counter() - t0
                    why = oracle_mismatch(sdf, rows, con, self.oracles[q])
                except Exception as e:  # a failed query counts in error_rate
                    why = f"error {e!r}"[:500]
                if why is not None:
                    print(f"{q}: oracle mismatch: {why}", flush=True)
                    self.failed += 1
        finally:
            con.close()
        return spark_s

    def run_query(self, q: str) -> float | None:
        """Build, then materialize every column; wall seconds, or None
        when the query failed."""
        self.op_id += 1
        self.attempted += 1
        self.spark.catalog.clearCache()
        t = self.tracer
        try:
            with t.span(f"queries.{q}", self.op_id, spark_counters=True):
                t0 = time.perf_counter()
                with t.span(f"queries.{q}.build", self.op_id):
                    df = self.fns[q](self.spark, SF_DIR)
                t1 = time.perf_counter()
                with t.span(f"queries.{q}.run", self.op_id):
                    df.collect()
                t2 = time.perf_counter()
        except Exception as e:
            print(f"{q} failed: {e!r}"[:500], flush=True)
            self.failed += 1
            return None
        self.build_s[q].append(t1 - t0)
        self.run_s[q].append(t2 - t1)
        return t2 - t0

    def one_pass(self) -> list[float]:
        lat = []
        per = {"jvm": 0.0, "python": 0.0}
        for q in self._order():
            s = self.run_query(q)
            if s is None:
                continue
            lat.append(s * 1e3)
            per["python" if q in PYTHON_QUERIES else "jvm"] += s
        for k, v in per.items():
            self.pass_s[k].append(v)
        return lat

    def measure(self, seconds: float) -> tuple[float, list[float]]:
        """The timed window: a fixed number of whole passes sized so the
        window lasts about ``seconds``."""
        t0 = time.perf_counter()
        lat: list[float] = []
        for _ in range(max(1, round(seconds / NOMINAL_PASS_S))):
            lat += self.one_pass()
        return time.perf_counter() - t0, lat
