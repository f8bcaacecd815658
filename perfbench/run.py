"""Benchmark of the trip ETL and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client drives ``local[SPARK_GRAFT_CPUS]``
(default: the CPUs this process may use) in a closed loop: each operation
starts when the previous one has finished. The inputs are generated from
``--seed`` under ``perfbench/out/inputs`` (once per seed, not timed); the
program sees only those files. Every operation's output is checked against
truth computed without Spark, and the last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the spans are written to ``perfbench/out/trace``.
See NOTES.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import gc
import glob
import inspect
import json
import os
import re
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import gen_trips  # noqa: E402
from probes import ProcTree, StageMeter, Tracer, etl_layers, table_loads  # noqa: E402

WORKLOADS = ["etl_fidelity", "query_mix"]
ETL_ROWS = 50_000
MIX_SF = 0.02
# A join-and-aggregate pair over sources.tables, then one curation query
# per operator module (text_dedup, similarity, graph, text_analysis,
# sketches, multimodal), each among the cheapest of its module so that
# several passes fit in one run.
MIX_QUERIES = [
    "q1_argmax_group_avg",
    "tpch_q5_region_revenue",
    "dedup_keep_best_quality",
    "dedup_embedding_cosine",
    "graph_degree_gini",
    "text_token_stats",
    "agg_kmv_distinct",
    "mm_media_features",
]
OPERATOR_MODULES = [
    "text_dedup", "similarity", "graph", "text_analysis", "sketches", "multimodal",
]
SETUPS = 3
# Untimed (but checked) passes before timing. The ETL keeps getting faster
# over its first few runs (JIT); the mix's first pass after its cold one is
# still about 10% slower than the later ones.
WARM_PASSES = {"etl_fidelity": 5, "query_mix": 2}
MIX_LAYERS = ("queries.", "tables.", "ops.")
SHARED_LAYERS = ("session.", "trace.", "jvm.")

_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _prepare_env() -> None:
    """Import the package from the checkout, in this process and in the
    Python workers, and keep Spark's scratch space inside the checkout."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_GRAFT_BENCH_LITE", None)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the inputs are small; the package's 8g default heap only inflates RSS
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")


def _spark_conf() -> dict:
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')} -XX:-UsePerfData"
            # compiler threads never exit: ProcTree.cpu_s sees all their time
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
    }


def _warm_up(spark, python_workers: bool) -> None:
    """First job and, for a workload with Python UDFs, one Python worker
    per core (the pool grows lazily, so a one-partition warm-up would
    leave the first wide UDF paying the cold starts)."""
    from pyspark.sql import functions as F, types as T

    spark.range(1000).selectExpr("sum(id)").collect()
    if not python_workers:
        return
    width = spark.sparkContext.defaultParallelism

    @F.pandas_udf(T.LongType())
    def ident(s):
        return s

    # aggregate over the UDF column, or Catalyst prunes it
    spark.range(width, numPartitions=width).select(ident("id").alias("w")).agg(
        F.max("w")
    ).collect()


def _work_cpu(c: dict) -> float:
    """CPU seconds of the threads that do the work: all, less the JVM's
    JIT compiler and garbage-collector threads (see ProcTree.cpu_s)."""
    return c["total"] - c["jit"] - c["gc"]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Workloads. Each has ``ops`` (a pass runs them once, in order), ``run``
# (the timed call), ``check`` (untimed: a failure message or None) and
# ``layer_metrics``.


class EtlFidelity:
    """``pipeline.run`` with the package's default settings."""

    def __init__(self, spark, info: dict):
        from etl_developstoday_test_spark import pipeline
        from etl_developstoday_test_spark.config import EtlSettings

        self.spark, self.info, self.pipeline = spark, info, pipeline
        self.rows = info["rows"]
        self.ops = ["pipeline.run"]
        self.work = os.path.join(OUT, "work", "etl_fidelity")
        self.settings = EtlSettings(
            input_path=info["input"],
            duplicates_path=os.path.join(self.work, "duplicates"),
            output_path=os.path.join(self.work, "trips"),
        )

    def run(self, op: str, tracer: Tracer | None = None) -> dict:
        # both sinks write with mode("overwrite"): no cleanup between runs
        if tracer is None:
            return self.pipeline.run(self.spark, self.settings)
        with etl_layers(tracer, self.pipeline):
            return self.pipeline.run(self.spark, self.settings)

    def check(self, op: str, stats: dict) -> str | None:
        """Counters, parquet row count and duplicates CSV against the
        pure-Python replay."""
        import pyarrow.parquet as pq

        truth = self.info["truth"]
        self.last_stats = stats
        if stats != truth["counters"]:
            return f"counters {stats} != {truth['counters']}"
        parts = glob.glob(os.path.join(self.settings.output_path, "*.parquet"))
        n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        if n != truth["counters"]["InsertedRows"]:
            return f"parquet rows {n}"
        dup_lines = []
        for p in sorted(glob.glob(os.path.join(self.settings.duplicates_path, "*.csv"))):
            with open(p, newline="") as f:
                rows = list(csv.reader(f))
            if rows and rows[0][0] != "LineNumber":
                return f"duplicates header {rows[0]}"
            dup_lines += [int(r[0]) for r in rows[1:]]
        if dup_lines != truth["duplicate_line_numbers"]:
            return f"duplicates CSV: {len(dup_lines)} rows, other LineNumbers"
        return None

    def layer_metrics(self, tracer: Tracer, op_walls: dict, passes: list[dict]) -> dict:
        def med(name, key=None):
            if key is None:
                return _median(tracer.durations(name))
            return _median(tracer.stage_totals(name, key))

        c = self.last_stats
        dedups = [s for s in tracer.spans if s["name"] == "dedup"]
        parts = glob.glob(os.path.join(self.settings.output_path, "*.parquet"))
        m = {
            "csv_source.probe_s": med("csv_source.probe"),
            "csv_source.scan_s": med("csv_source.scan"),
            "csv_source.splits": max(
                tracer.stage_totals("csv_source.probe", "input_splits")
                + tracer.stage_totals("csv_source.scan", "input_splits")
            ),
            "csv_source.input_bytes": med("csv_source.scan", "input_bytes"),
            "parse.s": med("parse"),
            "parse.invalid_rows": c["InvalidRows"],
            "parse.valid_ratio": 1 - c["InvalidRows"] / c["TotalRowsRead"],
            "normalize.s": med("normalize"),
            "dedup.s": med("dedup"),
            "dedup.shuffle_write_bytes": med("dedup", "shuffle_write_bytes"),
            "dedup.spill_bytes": med("dedup", "spill_bytes"),
            "dedup.loser_ratio": _median(
                [s["losers"] / (s["winners"] + s["losers"]) for s in dedups]
            ),
            "sinks.parquet_s": med("sinks.parquet"),
            "sinks.parquet_bytes": sum(os.path.getsize(p) for p in parts),
            "sinks.parquet_files": len(parts),
            "sinks.duplicates_csv_s": med("sinks.duplicates_csv"),
            "sinks.duplicates_rows": c["DuplicatesFileRows"],
        }
        m.update(_stage_summary("pipeline", passes))
        # run_stats_only is another plan: its first call compiles it
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            self.pipeline.run_stats_only(self.spark, self.settings)
            times.append(time.perf_counter() - t0)
        m["pipeline.stats_only_s"] = times[-1]
        return m


class QueryMix:
    """``MIX_QUERIES`` from ``plans.queries``, back to back, each collected
    so that every result is checked."""

    def __init__(self, spark, info: dict):
        from etl_developstoday_test_spark.plans import queries

        self.spark, self.info, self.queries = spark, info, queries
        self.rows = info["rows"]
        self.ops = list(MIX_QUERIES)

    def run(self, op: str, tracer: Tracer | None = None) -> tuple[list, list]:
        """One query, collected: (rows, column names)."""
        if tracer is None:
            df = self.queries.QUERIES[op](self.spark, self.info["input"])
        else:
            with table_loads(tracer, self.queries):
                df = self.queries.QUERIES[op](self.spark, self.info["input"])
        return [tuple(r) for r in df.collect()], df.columns

    def check(self, op: str, result: tuple[list, list]) -> str | None:
        """The canonical result against the DuckDB oracle's fingerprint."""
        truth = self.info["truth"][op]
        rows, columns = result
        if "fingerprint" not in truth:
            return None if rows else f"{op}: no rows"
        if gen_tables.fingerprint(rows, columns) != truth["fingerprint"]:
            return f"{op}: result differs from the oracle ({len(rows)} rows)"
        return None

    def layer_metrics(self, tracer: Tracer, op_walls: dict, passes: list[dict]) -> dict:
        m = {f"queries.{q}_s": _median(op_walls[q]) for q in self.ops}
        traced_passes = max(1, len(tracer.durations("pass")))
        m["tables.load_s"] = sum(tracer.durations("tables.load")) / traced_passes
        m.update(_stage_summary("queries", passes))
        for mod in OPERATOR_MODULES:
            m[f"ops.{mod}_s"] = sum(
                m[f"queries.{q}_s"] for q in self.ops
                if mod in _modules_called(self.queries, q)
            )
        return m


def _modules_called(queries, name: str) -> set[str]:
    """Operator modules that a query's function body calls into."""
    src = inspect.getsource(queries.QUERIES[name])
    return {
        m for m in OPERATOR_MODULES
        if re.search(rf"\b{m}\.\w+\(|operators\.{m} import|\bimport {m}\b", src)
    }


def _stage_summary(prefix: str, passes: list[dict]) -> dict:
    """Medians over untraced passes of the Spark job and task totals, and
    core utilization: executor busy time over (wall x cores)."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out = {
        f"{prefix}.jobs": _median([p["jobs"] for p in passes]),
        f"{prefix}.tasks": _median([p["tasks"] for p in passes]),
        f"{prefix}.failed_tasks": sum(p["failed_tasks"] for p in passes),
        f"{prefix}.executor_busy_s": _median([p["executor_busy_s"] for p in passes]),
        f"{prefix}.core_util": _median(
            [p["executor_busy_s"] / (p["wall_s"] * cores) for p in passes]
        ),
    }
    if prefix == "queries":
        out["queries.shuffle_write_bytes"] = _median(
            [p["shuffle_write_bytes"] for p in passes]
        )
    return out


def _per_layer(workload: str, measured: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares; a layer the
    workload does not run reads 0. A measured name that is not declared,
    or a declared one of this workload's own layers that was not
    measured, is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    undeclared = set(measured) - set(declared)
    if undeclared:
        raise KeyError(f"undeclared per-layer metrics: {sorted(undeclared)}")
    mix = workload == "query_mix"
    missing = [
        n for n in declared
        if (n.startswith(SHARED_LAYERS) or n.startswith(MIX_LAYERS) == mix)
        and n not in measured
    ]
    if missing:
        raise KeyError(f"per-layer metrics not measured: {missing}")
    return {n: (measured.get(n, 0), u) for n, u in declared.items()}


# ---------------------------------------------------------------------------


def _shutdown_jvm(proc: ProcTree) -> None:
    """Stop Spark, close the py4j gateway and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gw_proc = getattr(gateway, "proc", None)
        if gw_proc is not None:
            gw_proc.stdin.close()
            gw_proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while proc.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in proc.descendants():
        try:
            os.kill(int(pid), 9)
        except OSError:
            pass


def _measure(args, info: dict, proc: ProcTree, get_spark) -> tuple[int, int, dict, dict]:
    """Set up, warm up and time passes: (attempted, failed, metrics,
    details for the result file)."""
    mix = args.workload == "query_mix"
    # Set up several times; only the first set-up launches the JVM.
    starts, warms = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _warm_up(spark, python_workers=mix)
        starts.append(t1 - t0)
        warms.append(time.perf_counter() - t1)
    setups = [s + w for s, w in zip(starts, warms)]
    _log(f"set-ups: {[round(s, 3) for s in setups]}")

    bench = QueryMix(spark, info) if mix else EtlFidelity(spark, info)
    attempted = failed = 0

    meter = StageMeter(spark) if args.trace else None
    tracer = Tracer(meter)
    op_walls = {op: [] for op in bench.ops}
    op_cpus = {op: [] for op in bench.ops}  # less JIT and GC threads
    jvm_cpus = {"jit": [], "gc": []}  # per untimed pass
    traced_walls, passes = [], []

    def one_pass(traced: bool) -> tuple[float, dict, dict]:
        """Run every op once: (wall s, {op: wall s}, {op: ProcTree.cpu_s
        difference})."""
        nonlocal attempted, failed
        gc.collect()
        spark.sparkContext._jvm.System.gc()  # untimed, between passes
        walls, cpus = {}, {}
        with tracer.span("pass") if traced else contextlib.nullcontext():
            for op in bench.ops:
                cpu0 = proc.cpu_s()
                t0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.span(op, stages=True) as span:
                            result = bench.run(op, tracer)
                        walls[op] = span["end"] - span["start"]
                    else:
                        result = bench.run(op)
                        walls[op] = time.perf_counter() - t0
                    cpu1 = proc.cpu_s()
                    cpus[op] = {k: cpu1[k] - cpu0[k] for k in cpu1}
                    err = bench.check(op, result)
                except Exception:
                    traceback.print_exc()
                    walls[op], err = time.perf_counter() - t0, f"{op} raised"
                attempted += 1
                if err:
                    failed += 1
                    print(err, file=sys.stderr)
        return sum(walls.values()), walls, cpus

    for _ in range(WARM_PASSES[args.workload]):
        one_pass(traced=False)
    _log("warm-up done")

    deadline = time.perf_counter() + args.seconds
    i = 0
    # With --trace 1, odd passes are traced and even ones are not.
    while i == 0 or time.perf_counter() < deadline or (args.trace and i < 2):
        traced = bool(args.trace and i % 2)
        mark = meter.mark() if meter else None
        wall, walls, cpus = one_pass(traced)
        if traced:
            traced_walls.append(wall)
        else:
            for op in walls:
                op_walls[op].append(walls[op])
            for op, c in cpus.items():
                op_cpus[op].append(_work_cpu(c))
            for k in jvm_cpus:
                jvm_cpus[k].append(sum(c[k] for c in cpus.values()))
            if meter:
                passes.append({**meter.since(mark), "wall_s": wall})
        _log(f"pass {i}{' traced' if traced else ''}: {wall:.3f} s, "
             f"{sum(map(_work_cpu, cpus.values())):.2f} cpu s")
        i += 1

    # A pass runs every op once; each op counts with its median over passes.
    wall_s = sum(_median(w) for w in op_walls.values())
    metrics = {
        "wall_s": (wall_s, "s"),
        "rows_per_s": (bench.rows / wall_s, "1/s"),
        "cpu_s": (sum(_median(c) for c in op_cpus.values()), "s"),
        "peak_rss_mb": (proc.peak_rss_mb(), "MB"),
        "setup_s": (_median(setups), "s"),
    }
    if args.trace:
        layers = {
            "session.start_s": starts[0],
            "session.restart_s": _median(starts[1:]),
            "session.warm_s": _median(warms),
            "trace.overhead_s": _median(traced_walls) - wall_s,
            "jvm.jit_cpu_s": _median(jvm_cpus["jit"]),
            "jvm.gc_cpu_s": _median(jvm_cpus["gc"]),
        }
        layers.update(bench.layer_metrics(tracer, op_walls, passes))
        metrics = _per_layer(args.workload, layers)
        tracer.dump(os.path.join(OUT, "trace", f"{args.workload}-seed{args.seed}.json"))
    details = {
        "input_rows": bench.rows, "setups_s": setups, "op_walls_s": op_walls,
        "op_cpus_s": op_cpus, "jvm_cpus_s": jvm_cpus,
        "traced_pass_walls_s": traced_walls,
    }
    return attempted, failed, metrics, details


def main() -> int:
    args = _args()
    _prepare_env()
    from etl_developstoday_test_spark.plans.queries import ORACLE_SQL
    from etl_developstoday_test_spark.session import get_spark

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    if args.workload == "query_mix":
        in_dir = os.path.join(OUT, "inputs", f"query_mix-sf{MIX_SF}-seed{args.seed}")
        info = gen_tables.build(args.seed, in_dir, MIX_SF, MIX_QUERIES, ORACLE_SQL)
    else:
        in_dir = os.path.join(OUT, "inputs", f"etl_fidelity-r{ETL_ROWS}-seed{args.seed}")
        info = gen_trips.build(args.seed, in_dir, ETL_ROWS)
    _log(f"inputs ready: {info['rows']} rows")

    proc = ProcTree()
    try:
        attempted, failed, metrics, details = _measure(args, info, proc, get_spark)
    finally:
        _shutdown_jvm(proc)
        _log("stopped")

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(
        OUT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": os.environ["SPARK_GRAFT_CPUS"], **details,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }, f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
