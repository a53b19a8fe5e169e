"""Benchmark of the wide-column engine: one command, one workload per run.

    python3 perfbench/run.py --workload kv_churn --seed 1 --seconds 18 --trace 0

Run it from the repository root. It reads its data from
``perfbench/data``, generates its requests from the seed, sets up the
engine, warms it up, measures for ``--seconds`` with one client thread in
a closed loop on ``local[4]``, checks every result, and prints one JSON
object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
spans to ``.perfbench_traces/``). The line before it holds the details:
sample counts, per-operation medians and percentiles.

Everything the run writes (Spark local dirs, the store, temp files) lives
under ``.perfbench_work/`` in the current directory and is removed at the
end. The exit code is non-zero when a result was wrong or a call failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# the engine and tools/check_oracle.py, after this directory's modules
sys.path.insert(1, REPO)

WORKLOADS = ("kv_compacted", "kv_churn", "analytics")
#: store builds per kv run; setup_s is their median
SETUP_REPS = 5
CORES = 4


def p90_or_none(values: list[float]) -> float | None:
    """Nearest-rank p90, only with at least ten samples beyond it."""
    if len(values) < 100:
        return None
    return sorted(values)[math.ceil(0.9 * len(values)) - 1]


class Context:
    def __init__(self, args, work: str) -> None:
        self.rng = random.Random(args.seed)
        self.work = work
        self.spark = None
        self.tracer = None
        self._inputs = hashlib.sha256()

    def log_input(self, *item) -> None:
        """Fold one generated request into the digest of the run's inputs."""
        self._inputs.update(repr(item).encode())

    def inputs_digest(self) -> str:
        return self._inputs.hexdigest()


def start_spark(work: str):
    from apache_cassandra_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None  # exited while we looked
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def work_cpu_ticks(root: int, jvm: int) -> dict:
    """CPU ticks (user + system, with reaped children) of process ``root``
    and all its descendants -- this client, the Spark JVM, the Python
    workers -- and, per thread, of the JVM's JIT compiler threads."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat_fields(f"/proc/{pid}/stat")) is not None:
            stats[int(pid)] = st[1]
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += sum(int(x) for x in stats[pid][11:15])
        todo += children.get(pid, [])
    jit = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        st = _stat_fields(f"/proc/{jvm}/task/{tid}/stat")
        if st is not None and "CompilerThre" in st[0]:
            jit[tid] = int(st[1][11]) + int(st[1][12])
    return {"total": total, "jit": jit}


def work_cpu_s(before: dict, after: dict) -> float:
    """CPU seconds between two ``work_cpu_ticks`` readings, less the JIT
    compiler's: a fresh JVM still compiles hot code during the window,
    and how much varies from run to run; the program's own work does not."""
    jit = sum(t - before["jit"].get(tid, 0) for tid, t in after["jit"].items())
    return (after["total"] - before["total"] - jit) / os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def kv_layers(w, tracer) -> dict[str, float]:
    """Per-layer metrics of a traced key-value run."""
    from kv import parquet_bytes

    out: dict[str, float] = {}
    selft = tracer.self_times()
    for op in KV_OPS:
        call = tracer.by_name(f"engine.{op}.call")
        out[f"engine.{op}.call_ms_p50"] = median([selft[s["id"]] * 1e3 for s in call])
        if op != "write":
            ids = {s["op"] for s in call}
            binds = [s for s in tracer.by_name("cellstore.bind") if s["op"] in ids]
            out[f"cellstore.{op}.bind_ms_p50"] = median([(s["end"] - s["start"]) * 1e3 for s in binds])
            action = tracer.by_name(f"spark.{op}.action")
            out[f"spark.{op}.action_ms_p50"] = median([(s["end"] - s["start"]) * 1e3 for s in action])
        counted = tracer.by_name(f"op.{op}")
        for k in SPARK_COUNTERS:
            out[f"spark.{op}.{k}"] = median([s["spark"][k] for s in counted])
    out["cellstore.write.apply_ms_p50"] = median(
        [(s["end"] - s["start"]) * 1e3 for s in tracer.by_name("cellstore.apply")]
    )
    minor = tracer.by_name("maintenance.minor")
    ran = [s for s in minor if s["spark"]["jobs"] > 0]
    out["maintenance.minor.runs"] = float(w.minor_runs)
    out["maintenance.minor.ms_p50"] = median(w.minor_ms)
    out["maintenance.minor.bytes_rewritten"] = float(sum(s["spark"]["output_bytes"] for s in ran))
    major = tracer.by_name("maintenance.compact")
    out["maintenance.compact.jobs"] = median([s["spark"]["jobs"] for s in major])
    out["maintenance.compact.shuffle_bytes"] = median([s["spark"]["shuffle_bytes"] for s in major])
    out["maintenance.compact.output_bytes"] = median([s["spark"]["output_bytes"] for s in major])
    out["cellstore.delta_files_p50"] = median(w.delta_files)
    written = sum(
        s["spark"]["output_bytes"]
        for name in ("op.write", "maintenance.minor", "maintenance.compact")
        for s in tracer.by_name(name)
    )
    out["cellstore.write_amp"] = written / w.user_bytes_written if w.user_bytes_written else 0.0
    out["cellstore.space_amp"] = parquet_bytes(w.root) / w.model.live_bytes()
    return out


def analytics_layers(w, tracer) -> dict[str, float]:
    from analytics import QUERIES
    from spans import PYTHON_METRICS

    out: dict[str, float] = {}
    for q in QUERIES:
        out[f"queries.{q}.build_s"] = median(w.build_s[q])
        out[f"queries.{q}.run_s"] = median(w.run_s[q])
        spans = tracer.by_name(f"queries.{q}")
        for k in QUERY_COUNTERS:
            out[f"queries.{q}.{k}"] = median([s["spark"][k] for s in spans])
    # summed over one pass of the Python list (median over passes)
    spans = [s for s in tracer.spans if s["name"].startswith("queries.") and "spark" in s]
    passes = max(1, len(tracer.by_name(f"queries.{QUERIES[0]}")))
    for v in PYTHON_METRICS.values():
        out[f"python.{v}"] = sum(s["spark"][f"python.{v}"] for s in spans) / passes
    return out


def run(args) -> int:
    # fails fast, before any work, when the engine is not there
    import apache_cassandra_spark.engine  # noqa: F401

    from spans import Tracer

    work_root = os.path.abspath(".perfbench_work")
    work = os.path.join(work_root, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    ctx = Context(args, work)
    spark = None
    try:
        t_start = time.perf_counter()
        spark = ctx.spark = start_spark(work)
        spark_start_s = time.perf_counter() - t_start
        ctx.tracer = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        if args.workload == "analytics":
            from analytics import AnalyticsWorkload

            # no store here: set-up is the session start plus the first,
            # cold pass (oracle-checked; the oracle's time left out)
            w = AnalyticsWorkload(ctx)
            setup = [spark_start_s + w.check()]
        else:
            from kv import KVWorkload

            w = KVWorkload(ctx, args.workload)
            setup = w.setup(SETUP_REPS)
            w.warmup()
        warmup_s = time.perf_counter() - t0
        result = measure(w, args, ctx, spark)
        if args.workload == "kv_churn":
            w.restart_check()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "spark_start_s": spark_start_s,
        "setup_reps_s": setup,
        "warmup_s": warmup_s,
        **result["detail"],
        "error_rate": w.failed / max(1, w.attempted),
        "inputs_digest": ctx.inputs_digest(),
    }
    metrics = result["metrics"]
    if not args.trace:
        metrics["setup_s"] = {"value": statistics.median(setup), "unit": "s"}
    print(json.dumps({"detail": detail}), flush=True)
    ok = w.failed == 0
    print(
        json.dumps(
            {"correct": ok, "attempted": w.attempted, "failed": w.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0 if ok else 1


def e2e_metrics(w, workload: str, wall: float, lat: list[float]) -> dict[str, float]:
    """kv: median call latency and calls per second of wall time.
    analytics: per-query medians over the passes (the first timed pass
    of a fresh JVM still runs colder than the next), then their median,
    and queries per second of one pass made of those medians."""
    if workload != "analytics":
        return {"op_p50_ms": statistics.median(lat), "ops_per_s": len(lat) / wall}
    per_query = [median(w.build_s[q]) + median(w.run_s[q]) for q in w.build_s]
    return {
        "op_p50_ms": statistics.median(per_query) * 1e3,
        "ops_per_s": len(per_query) / sum(per_query),
    }


def measure(w, args, ctx, spark) -> dict:
    """The timed window. A traced run follows it with a traced window and
    a second untraced one; the tracing overhead is the traced window over
    the mean of the two untraced ones, so JVM warm-up and store drift
    across the windows cancel out of the ratio."""
    from pyspark import SparkContext
    from spans import Tracer

    jvm = SparkContext._gateway.proc.pid

    def window() -> dict[str, float]:
        cpu0 = work_cpu_ticks(os.getpid(), jvm)
        if args.workload == "analytics":
            wall, lat = w.measure(args.seconds)
        else:
            wall = w.measure(args.seconds)
            lat = [x for v in w.samples.values() for x in v]
        cpu = work_cpu_s(cpu0, work_cpu_ticks(os.getpid(), jvm))
        out = e2e_metrics(w, args.workload, wall, lat)
        out.update(cpu_ms_per_op=cpu * 1e3 / len(lat), samples=len(lat), wall_s=wall, cpu_s=cpu)
        return out

    e2e = window()
    detail = dict(e2e)
    if args.workload == "analytics":
        detail["analytics_jvm_s"] = median(w.pass_s["jvm"])
        detail["analytics_python_s"] = median(w.pass_s["python"])
        detail["passes"] = len(w.pass_s["jvm"])
    else:
        for op, v in w.samples.items():
            detail[f"{op}_samples"] = len(v)
            detail[f"{op}_p50_ms"] = median(v)
            detail[f"{op}_p90_ms"] = p90_or_none(v)
        detail["compact_s"] = median(w.compact_s) if w.compact_s else None
    if not args.trace:
        return {
            "metrics": {"cpu_ms_per_op": {"value": e2e["cpu_ms_per_op"], "unit": "ms"}},
            "detail": detail,
        }

    def reset() -> None:
        """Fresh samples for the next window of the same length."""
        if args.workload == "analytics":
            w.build_s = {q: [] for q in w.build_s}
            w.run_s = {q: [] for q in w.run_s}
            w.pass_s = {"jvm": [], "python": []}
        else:
            w.samples = {op: [] for op in w.samples}
            w.minor_ms, w.minor_runs, w.delta_files = [], 0, []
            w.user_bytes_written = 0

    # traced window: spans on
    reset()
    tracer = ctx.tracer = w.tracer = Tracer(spark, enabled=True)
    if args.workload != "analytics":
        w._instrument(w.engine)
    traced = window()
    # every layer figure comes from the traced window; every workload
    # reports every layer, and the ones it does not run read 0
    if args.workload == "analytics":
        layers = analytics_layers(w, tracer)
        layers.update(dict.fromkeys(KV_LAYER_NAMES, 0.0))
    else:
        layers = kv_layers(w, tracer)
        layers.update(dict.fromkeys(ANALYTICS_LAYER_NAMES, 0.0))
    # second untraced window
    ctx.tracer = w.tracer = Tracer(spark, enabled=False)
    if args.workload != "analytics":
        w._uninstrument(w.engine)
    reset()
    after = window()
    for name, k in TRACE_RATIOS.items():
        layers[name] = traced[k] / ((e2e[k] + after[k]) / 2)
    detail["untraced_after"] = after
    os.makedirs(".perfbench_traces", exist_ok=True)
    tracer.dump(os.path.join(".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"))
    units = layer_units()
    return {
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in layers.items()},
        "detail": detail,
    }


#: tracing-overhead ratio -> the end-to-end figure it compares
TRACE_RATIOS = {
    "trace.cpu_ms_per_op_ratio": "cpu_ms_per_op",
    "trace.op_p50_ratio": "op_p50_ms",
    "trace.ops_per_s_ratio": "ops_per_s",
}
QUERY_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_records")
KV_OPS = ("point_read", "multiget_100", "range_page_100", "write")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_records", "shuffle_bytes",
                  "input_bytes", "executor_cpu_ms")


def _names() -> tuple[list[str], list[str]]:
    kv = []
    for op in KV_OPS:
        kv.append(f"engine.{op}.call_ms_p50")
        if op != "write":
            kv += [f"cellstore.{op}.bind_ms_p50", f"spark.{op}.action_ms_p50"]
        kv += [f"spark.{op}.{k}" for k in SPARK_COUNTERS]
    kv += ["cellstore.write.apply_ms_p50", "maintenance.minor.runs", "maintenance.minor.ms_p50",
           "maintenance.minor.bytes_rewritten", "maintenance.compact.jobs",
           "maintenance.compact.shuffle_bytes", "maintenance.compact.output_bytes",
           "cellstore.delta_files_p50", "cellstore.write_amp", "cellstore.space_amp"]
    from analytics import QUERIES
    from spans import PYTHON_METRICS

    an = [f"queries.{q}.{k}" for q in QUERIES for k in ("build_s", "run_s") + QUERY_COUNTERS]
    an += [f"python.{v}" for v in PYTHON_METRICS.values()]
    return kv, an


KV_LAYER_NAMES, ANALYTICS_LAYER_NAMES = _names()


def layer_units() -> dict[str, str]:
    units = dict.fromkeys(TRACE_RATIOS, "ratio")
    for n in KV_LAYER_NAMES + ANALYTICS_LAYER_NAMES:
        if n.endswith("ms_p50") or n.endswith("_ms"):
            units[n] = "ms"
        elif n.endswith("_s"):
            units[n] = "s"
        elif n.endswith("bytes") or n.endswith("_rewritten"):
            units[n] = "bytes"
        elif n.endswith("_amp"):
            units[n] = "ratio"
        else:
            units[n] = "count"
    return units


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
