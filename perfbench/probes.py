"""Measurement from outside the program: process counters, Spark stage
metrics, and spans around the calls into the package's layers.

``etl_layers`` swaps the layer functions that ``pipeline`` calls for
wrappers that record a span around each call and materialize the returned
DataFrame (persist + count), so each layer's work runs inside its own span.
What the pipeline computes is unchanged; the materialization is the
tracing overhead that ``trace.overhead_s`` reports.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
# Thread names (comm, cut to 15 characters) of HotSpot's JIT compilers and
# of G1's collector threads ("GC Thread#0", "G1 Conc#0", "G1 Refine#0",
# "G1 Main Marker", "G1 Service").
_JIT_THREAD = re.compile(r"C[12] CompilerThre")
_GC_THREAD = re.compile(r"GC Thread|G1 ")


class ProcTree:
    """CPU time and peak resident memory of this process's descendants
    (the Spark JVM, the PySpark daemon and its Python workers)."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def descendants(self) -> list[str]:
        children: dict[str, list[str]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = stat[stat.rindex(")") + 2:].split()[1]
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [str(self.root)]
        while todo:
            for child in children.get(todo.pop(), []):
                out.append(child)
                todo.append(child)
        return out

    def cpu_s(self) -> dict:
        """CPU seconds (utime+stime) so far. ``total``: every live
        descendant, plus what each has collected from its reaped children.
        ``jit`` and ``gc``: the part of it spent by the JVM's JIT compiler
        threads and by its garbage-collector threads.

        Both run beside the work, on cores it leaves idle, and how much they
        do in a pass depends on the JVM's adaptive state more than on the
        pass: the compilers keep compiling for many passes after start-up,
        as fast as the host lets them, and G1 runs concurrent marking
        cycles in some runs and not in others. The JVM runs with a fixed set
        of compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``);
        G1 starts its worker threads lazily but never ends them. So none of
        these threads exits and takes its time into the process total
        unseen."""
        total = jit = gc = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            total += sum(int(x) for x in fields[11:15])
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                name = stat[stat.index("(") + 1:]
                fields = stat[stat.rindex(")") + 2:].split()
                if _JIT_THREAD.match(name):
                    jit += int(fields[11]) + int(fields[12])
                elif _GC_THREAD.match(name):
                    gc += int(fields[11]) + int(fields[12])
        return {"total": total / _TICK, "jit": jit / _TICK, "gc": gc / _TICK}

    def peak_rss_mb(self) -> float:
        """Sum over descendants of each one's peak resident set (VmHWM)."""
        total_kb = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024


class StageMeter:
    """Spark job and stage metrics from the status store (UI disabled is
    fine), totalled over the jobs and stages submitted after a mark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _lists(self):
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        empty = self._jvm.java.util.ArrayList()
        stages = store.stageList(empty, False, False, self._no_quantiles, empty)
        jobs = store.jobsList(empty)
        return (
            [stages.apply(i) for i in range(stages.size())],
            [jobs.apply(i) for i in range(jobs.size())],
        )

    def mark(self) -> tuple[int, int]:
        stages, jobs = self._lists()
        return (
            max((s.stageId() for s in stages), default=-1),
            max((j.jobId() for j in jobs), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> dict:
        stages, jobs = self._lists()
        ran = [
            s for s in stages
            if s.stageId() > mark[0] and s.status().toString() != "SKIPPED"
        ]
        reading = [s for s in ran if s.inputBytes() > 0]
        return {
            "jobs": sum(1 for j in jobs if j.jobId() > mark[1]),
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in ran),
            "failed_tasks": sum(s.numFailedTasks() for s in ran),
            "executor_busy_s": sum(s.executorRunTime() for s in ran) / 1000,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
            "spill_bytes": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran
            ),
            "input_bytes": sum(s.inputBytes() for s in reading),
            "input_splits": max((s.numTasks() for s in reading), default=0),
        }


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out
    when the run ends."""

    def __init__(self, meter: StageMeter | None = None):
        self.meter = meter
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, stages: bool = False):
        """Record a span. With ``stages``, the Spark stage totals of the
        region land in ``span["stages"]``; reading them waits for the
        listener bus, so it happens outside the span's own interval."""
        mark = self.meter.mark() if stages else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if stages:
                rec["stages"] = self.meter.since(mark)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def stage_totals(self, name: str, key: str) -> list[float]:
        return [s["stages"][key] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        """Write every span with its self time: its duration minus the
        part of it that its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.append({
                **s,
                "duration_s": s["end"] - s["start"],
                "self_s": s["end"] - s["start"] - covered,
            })
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


@contextmanager
def etl_layers(tracer: Tracer, pipeline):
    """Trace the layer calls that ``pipeline.run`` makes.

    ``run`` calls ``build_stages`` (source, parse, and a normalize/dedup
    plan it does not use) and then normalizes and dedups the cached
    parse itself; only the calls whose results ``run`` consumes are
    materialized, so no layer runs twice because of tracing.
    """
    persisted = []
    in_build = [False]

    def materialize(df) -> int:
        df.persist()
        persisted.append(df)
        return df.count()

    originals = {
        name: getattr(pipeline, name)
        for name in (
            "build_stages", "read_trips_csv", "parse_trips", "normalize_trips",
            "first_wins_dedup", "write_duplicates_csv", "write_trips_parquet",
        )
    }

    def build_stages(*a, **k):
        in_build[0] = True
        try:
            with tracer.span("pipeline.build_stages"):
                return originals["build_stages"](*a, **k)
        finally:
            in_build[0] = False

    def read_trips_csv(*a, **k):
        with tracer.span("csv_source.probe", stages=True):
            raw = originals["read_trips_csv"](*a, **k)
        with tracer.span("csv_source.scan", stages=True):
            materialize(raw)
        return raw

    def parse_trips(*a, **k):
        with tracer.span("parse", stages=True):
            parsed = originals["parse_trips"](*a, **k)
            materialize(parsed)
        return parsed

    def normalize_trips(*a, **k):
        if in_build[0]:
            return originals["normalize_trips"](*a, **k)
        with tracer.span("normalize", stages=True):
            normed = originals["normalize_trips"](*a, **k)
            materialize(normed)
        return normed

    def first_wins_dedup(*a, **k):
        if in_build[0]:
            return originals["first_wins_dedup"](*a, **k)
        with tracer.span("dedup", stages=True) as span:
            winners, losers = originals["first_wins_dedup"](*a, **k)
            span["winners"] = materialize(winners)
            span["losers"] = materialize(losers)
        return winners, losers

    def write_duplicates_csv(*a, **k):
        with tracer.span("sinks.duplicates_csv", stages=True):
            return originals["write_duplicates_csv"](*a, **k)

    def write_trips_parquet(*a, **k):
        with tracer.span("sinks.parquet", stages=True):
            return originals["write_trips_parquet"](*a, **k)

    wrappers = {
        "build_stages": build_stages,
        "read_trips_csv": read_trips_csv,
        "parse_trips": parse_trips,
        "normalize_trips": normalize_trips,
        "first_wins_dedup": first_wins_dedup,
        "write_duplicates_csv": write_duplicates_csv,
        "write_trips_parquet": write_trips_parquet,
    }
    for name, fn in wrappers.items():
        setattr(pipeline, name, fn)
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(pipeline, name, fn)
        for df in persisted:
            df.unpersist()


@contextmanager
def table_loads(tracer: Tracer, queries):
    """Trace ``sources.tables.load_table`` as the query registry calls it."""
    original = queries.load_table

    def load_table(*a, **k):
        with tracer.span("tables.load"):
            return original(*a, **k)

    queries.load_table = load_table
    try:
        yield
    finally:
        queries.load_table = original
