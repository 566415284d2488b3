"""The workloads: inputs, operations, checks and per-layer readouts.

Every workload runs in a closed loop from one client thread: an
operation is sent only after the previous one has been consumed. A
workload's operations come in cycles whose structure is fixed by
construction (only seeded positions and bounds change), and a run
always measures whole cycles, so two seeds time the same mix.
"""

from __future__ import annotations

import gc
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench import reference as ref
from perfbench.gen import MixEntry
from perfbench.probe import SparkProbe, Tracer
from query_refinement_dsit_databases_2021_spark.operators import graph
from query_refinement_dsit_databases_2021_spark.operators.candidates import (
    build_candidates,
    pick_strategy,
)
from query_refinement_dsit_databases_2021_spark.plans.domains import resolve_domains
from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
from query_refinement_dsit_databases_2021_spark.plans.parser import parse_query
from query_refinement_dsit_databases_2021_spark.streaming.refine import (
    refine_on_stream,
)

# the warm-up draws its queries from this cycle index: seeded positions
# no measured cycle reaches
WARM_CYCLE = 100_000
AVG = ("avg_amp", None)
LEFT = ("max_amp_excess_left", 20)
RIGHT = ("max_amp_excess_right", 12)
ACTIONS = ("all", "limit", "exact", "tighten", "relax")
GRAPH_OPS = ("pagerank", "kcore", "bfs_distances", "triangle_count")

# (name, unit, better) of every per-layer metric a traced run reports;
# a layer the workload does not call reads 0
PER_LAYER = (
    [
        ("parser.parse_s", "s", "lower"),
        ("domains.resolve_s", "s", "lower"),
        ("domains.jobs", "count", "lower"),
        ("candidates.build_s", "s", "lower"),
        ("candidates.jobs", "count", "lower"),
        ("candidates.rows", "count", "lower"),
        ("candidates.shuffle_write_bytes", "bytes", "lower"),
        ("candidates.spill_bytes", "bytes", "lower"),
        ("candidates.strategy_window", "count", "higher"),
        ("candidates.strategy_sparse", "count", "higher"),
        ("executor.execute_s", "s", "lower"),
        ("executor.execute_jobs", "count", "lower"),
        ("executor.collect_s", "s", "lower"),
        ("executor.collect_jobs", "count", "lower"),
        ("executor.jobs_per_query", "count", "lower"),
        ("executor.stages_per_query", "count", "lower"),
        ("executor.tasks_per_query", "count", "lower"),
        ("executor.shuffle_read_bytes", "bytes", "lower"),
        ("executor.shuffle_write_bytes", "bytes", "lower"),
        ("executor.driver_s", "s", "lower"),
        ("executor.rows_examined_per_result", "ratio", "lower"),
        ("executor.pass_ratio", "ratio", "higher"),
    ]
    + [(f"executor.action_{a}", "count", "higher") for a in ACTIONS]
    + [
        ("executor.persisted_rdds_after", "count", "lower"),
        ("refine.trigger_jobs", "count", "lower"),
        ("refine.input_bytes", "bytes", "lower"),
        ("refine.output_bytes", "bytes", "lower"),
        ("refine.series_files", "count", "lower"),
        ("refine.driver_s", "s", "lower"),
    ]
    + [
        (f"graph.{op}_{m}", unit, "lower")
        for op in GRAPH_OPS
        for m, unit in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))
    ]
    + [
        ("materialize.persisted_rdds_after", "count", "lower"),
        ("trace.latency_p50_s", "s", "lower"),
        ("trace.overhead_p50_s", "s", "lower"),
        ("trace.op_self_s", "s", "lower"),
    ]
)


def write_parquet(path: Path, **cols) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), str(path))


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


class Workload:
    """One workload. ``prepare`` generates, writes and registers its
    inputs in a fresh session; ``warm`` runs operations of every kind so
    JIT compilation and lazy set-up finish before timing."""

    name = ""

    def prepare(self, spark, root: Path, seed: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def cycle(self, c: int) -> list:
        raise NotImplementedError

    def run(self, op):
        """The timed operation: from the call to the consumed result."""
        raise NotImplementedError

    def check(self, op, result) -> str | None:
        raise NotImplementedError

    def work(self, op) -> float:
        """Units of work the operation does (see ``work_per_s``)."""
        raise NotImplementedError

    def trace(self, op, i: int, probe: SparkProbe, tracer: Tracer):
        """Run ``op`` decomposed into layer calls under spans and job
        groups; returns (result, traced latency, per-layer samples)."""
        raise NotImplementedError

    def inputs(self) -> dict:
        """Input sizes, for the summary lines."""
        raise NotImplementedError

    def digest_rows(self, op, result) -> list:
        """The part of a result the cycle digest covers."""
        raise NotImplementedError

    def summarize(self, samples: list[dict]) -> dict:
        """Per-layer metrics from the traced cycle's samples."""
        return {k: _mean([s[k] for s in samples]) for k in samples[0]}


# ---------------------------------------------------------------------------
# CP query workloads
# ---------------------------------------------------------------------------


class CPWorkload(Workload):
    table = "s"
    n_points = 0
    mix: tuple[MixEntry, ...] = ()
    warm_mix: tuple[MixEntry, ...] = ()  # small queries of the mix's kinds

    def prepare(self, spark, root, seed):
        self.spark, self.seed = spark, seed
        self.y = gen.series(seed, self.n_points)
        path = root / "series.parquet"
        write_parquet(
            path, time_id=np.arange(1, self.y.size + 1, dtype=np.int64), v=self.y
        )
        self.df = spark.read.parquet(str(path))
        self.engine = Engine(spark)
        self.engine.register_series(self.table, self.df)

    def warm(self):
        n = len(self.warm_mix)
        for j in range(n):
            q = gen.cp_query(
                self.y, self.seed, self.name, WARM_CYCLE * n + j, self.warm_mix,
                self.table,
            )
            self.engine.execute(q.text).collect()

    def cycle(self, c):
        n = len(self.mix)
        return [
            gen.cp_query(self.y, self.seed, self.name, c * n + j, self.mix, self.table)
            for j in range(n)
        ]

    def run(self, op):
        rows = self.engine.execute(op.text).collect()
        return [(r[0], r[1]) for r in rows], self.engine.last_info.action

    def check(self, op, result):
        rows, action = result
        if action != op.exp.action:
            return f"action {action}, expected {op.exp.action}"
        return ref.check_rows(op.exp, rows)

    def work(self, op):
        return op.exp.udf_size

    def digest_rows(self, op, result):
        return sorted(result[0])

    def summarize(self, samples):
        return summarize_cp(samples)

    def trace(self, op, i, probe, tracer):
        s = {}
        with tracer.span(i, "query") as root:
            with tracer.span(i, "parser", "query") as sp:
                spec = parse_query(op.text)
            with tracer.span(i, "domains", "query") as sd, probe.group("domains") as gd:
                series = self.df.select(
                    F.col("time_id").cast("long").alias("time_id"),
                    F.col("v").cast("double").alias("y"),
                )
                spec = resolve_domains(series, spec)
            (x0, x1), (l0, l1) = spec.x_domain, spec.lx_domain
            strategy = pick_strategy(spec)
            with tracer.span(i, "candidates", "query") as sc, probe.group(
                "candidates"
            ) as gc:
                segment = series.where(F.col("time_id").between(x0, x1 + l1))
                build_candidates(
                    segment, spec, max(x0, 1), min(x1 + l1, self.y.size), strategy
                ).write.format("noop").mode("overwrite").save()
            with tracer.span(i, "execute", "query") as se, probe.group("execute") as ge:
                df = self.engine.execute(spec)
            with tracer.span(i, "collect", "query") as sk, probe.group("collect") as gk:
                rows = df.collect()
        info = self.engine.last_info
        dom, cand = probe.counters(gd), probe.counters(gc)
        ex, co = probe.counters(ge), probe.counters(gk)
        both = ex + co
        wall = lambda span: span.end - span.start  # noqa: E731
        s["parser.parse_s"] = wall(sp)
        s["domains.resolve_s"] = wall(sd)
        s["domains.jobs"] = dom.jobs
        s["candidates.build_s"] = wall(sc)
        s["candidates.jobs"] = cand.jobs
        s["candidates.rows"] = op.exp.n_candidates
        s["candidates.shuffle_write_bytes"] = cand.shuffle_write_bytes
        s["candidates.spill_bytes"] = cand.spill_bytes
        s[f"candidates.strategy_{strategy}"] = 1
        s["executor.execute_s"] = wall(se)
        s["executor.execute_jobs"] = ex.jobs
        s["executor.collect_s"] = wall(sk)
        s["executor.collect_jobs"] = co.jobs
        s["executor.jobs_per_query"] = both.jobs
        s["executor.stages_per_query"] = both.stages
        s["executor.tasks_per_query"] = both.tasks
        s["executor.shuffle_read_bytes"] = both.shuffle_read_bytes
        s["executor.shuffle_write_bytes"] = both.shuffle_write_bytes
        s["executor.driver_s"] = wall(se) + wall(sk) - both.busy_s()
        s["_udf_size"] = info.udf_size
        s["_rows"] = len(rows)
        s["_n_passing"] = info.n_passing if info.n_passing is not None else 0
        s["_refined_udf"] = info.udf_size if info.n_passing is not None else 0
        s[f"executor.action_{info.action}"] = 1
        s["executor.persisted_rdds_after"] = probe.persisted_rdds()
        # the standalone build exists only to time the layer: the traced
        # latency is what the engine's own call path took
        latency = wall(root) - wall(sc)
        return ([(r[0], r[1]) for r in rows], info.action), latency, s


def summarize_cp(samples: list[dict]) -> dict:
    out = {}
    for name in (
        "parser.parse_s", "domains.resolve_s", "domains.jobs",
        "candidates.build_s", "candidates.jobs", "candidates.rows",
        "candidates.shuffle_write_bytes", "candidates.spill_bytes",
        "executor.execute_s", "executor.execute_jobs", "executor.collect_s",
        "executor.collect_jobs", "executor.jobs_per_query",
        "executor.stages_per_query", "executor.tasks_per_query",
        "executor.shuffle_read_bytes", "executor.shuffle_write_bytes",
        "executor.driver_s",
    ):
        out[name] = _mean([s[name] for s in samples])
    for name in ["candidates.strategy_window", "candidates.strategy_sparse"] + [
        f"executor.action_{a}" for a in ACTIONS
    ]:
        out[name] = sum(s.get(name, 0) for s in samples)
    out["executor.rows_examined_per_result"] = sum(
        s["_udf_size"] for s in samples
    ) / max(1, sum(s["_rows"] for s in samples))
    refined = sum(s["_refined_udf"] for s in samples)
    out["executor.pass_ratio"] = (
        sum(s["_n_passing"] for s in samples) / refined if refined else 0.0
    )
    out["executor.persisted_rdds_after"] = samples[-1]["executor.persisted_rdds_after"]
    return out


class Trigger:
    """One micro-batch of the standing stream query: ``fn`` is
    ``refine_on_stream``'s batch function, ``frame`` the static batch."""

    def __init__(self, fn, frame, batch: int, plan: gen.StreamPlan, root: Path):
        self.fn, self.frame, self.batch, self.plan, self.root = (
            fn, frame, batch, plan, root,
        )

    @property
    def exp(self) -> ref.Expected:
        return self.plan.expected[self.batch]


def summarize_stream(samples: list[dict]) -> dict:
    out = {
        name: _mean([s[name] for s in samples])
        for name in (
            "refine.trigger_jobs", "refine.input_bytes", "refine.output_bytes",
            "refine.driver_s",
        )
    }
    out["refine.series_files"] = samples[-1]["refine.series_files"]
    return out


class Interactive(CPWorkload):
    """An analyst's closed-loop session: small CP queries on a ~1e5-point
    series against one long-lived Engine, while a standing refined query
    is re-run on every micro-batch of a live series (the triggers of
    ``refine_on_stream``, called directly with static batch frames: append
    parquet, re-resolve the open upper time_id bound, re-run, append the
    results — the only operations that write). Fixed per-query cost
    (Spark jobs, py4j planning, eager count/bounds in dispatch)
    dominates both."""

    name = "interactive"
    n_points = 100_000
    mix = (
        MixEntry("all", (AVG,), 1000, 32),
        MixEntry("limit", (AVG, LEFT), 1000, 32, open_side="x_lo"),
        MixEntry("exact", (AVG, LEFT, RIGHT), 1000, 32, open_side="lx_lo"),
        MixEntry("tighten", (LEFT, RIGHT), 1000, 32),
        MixEntry("relax", (RIGHT, AVG, LEFT), 1000, 32, open_side="x_hi"),
    )
    warm_mix = (MixEntry("relax", (AVG, LEFT), 200, 8, open_side="x_lo"),)
    stream = MixEntry("tighten", (AVG, LEFT), 0, 16)
    stream_points = 8_000
    stream_batches = 2
    stream_k = 20
    stream_table = "stream_series"

    def prepare(self, spark, root, seed):
        super().prepare(spark, root, seed)
        self.root = root
        self.stream_y = gen.series(seed + 1, self.stream_points)
        batch = self.stream_points // self.stream_batches
        for b in range(self.stream_batches):
            lo = b * batch
            write_parquet(
                root / "batches" / f"b{b}.parquet",
                time_id=np.arange(lo + 1, lo + batch + 1, dtype=np.int64),
                y=self.stream_y[lo : lo + batch],
            )

    def warm(self):
        super().warm()
        self.run(self._triggers(WARM_CYCLE)[0])

    def _triggers(self, c: int) -> list[Trigger]:
        plan = gen.stream_plan(
            self.stream_y, self.seed, c, self.stream_batches, self.stream,
            self.stream_k, self.stream_table,
        )
        d = self.root / f"stream{c}"
        shutil.rmtree(d, ignore_errors=True)
        frames = [
            self.spark.read.parquet(str(self.root / "batches" / f"b{b}.parquet"))
            for b in range(self.stream_batches)
        ]
        fn = refine_on_stream(frames[0], str(d / "series"), plan.text, str(d / "results"))
        return [Trigger(fn, frames[b], b, plan, d) for b in range(self.stream_batches)]

    def cycle(self, c):
        q, t = super().cycle(c), self._triggers(c)
        return [q[0], q[1], t[0], q[2], q[3], t[1], q[4]]

    def run(self, op):
        if isinstance(op, Trigger):
            op.fn(op.frame, op.batch)
            return op.batch
        return super().run(op)

    def check(self, op, result):
        if not isinstance(op, Trigger):
            return super().check(op, result)
        # read back with pyarrow: the check adds no Spark job
        res = pq.read_table(str(op.root / "results")).to_pandas()
        res = res[res["batch_id"] == op.batch]
        return ref.check_rows(op.exp, list(zip(res["time_id"], res["offset"])))

    def digest_rows(self, op, result):
        return [op.batch] if isinstance(op, Trigger) else super().digest_rows(op, result)

    def trace(self, op, i, probe, tracer):
        if not isinstance(op, Trigger):
            return super().trace(op, i, probe, tracer)
        with tracer.span(i, "trigger") as root:
            with tracer.span(i, "refine", "trigger") as st, probe.group("refine") as g:
                self.run(op)
        c = probe.counters(g)
        wall = st.end - st.start
        return op.batch, root.end - root.start, {
            "refine.trigger_jobs": c.jobs,
            "refine.input_bytes": c.input_bytes,
            "refine.output_bytes": c.output_bytes,
            "refine.series_files": len(list((op.root / "series").glob("*.parquet"))),
            "refine.driver_s": wall - c.busy_s(),
        }

    def summarize(self, samples):
        queries = [s for s in samples if "refine.trigger_jobs" not in s]
        triggers = [s for s in samples if "refine.trigger_jobs" in s]
        return {**summarize_cp(queries), **summarize_stream(triggers)}

    def inputs(self):
        batch = self.stream_points // self.stream_batches
        return {
            "series_points": self.n_points,
            "candidates_per_query": 1000 * 32,
            "stream_points": self.stream_points,
            "stream_batch_rows": batch,
            "candidates_per_trigger": [
                (b + 1) * batch * self.stream.n_l
                for b in range(self.stream_batches)
            ],
        }


class Scale(CPWorkload):
    """Large refined queries over a ~1e6-point series: candidate build
    and the sort-limit do the work, the place where more cores should
    help (the cores sweep in README.md measures whether they do)."""

    name = "scale"
    n_points = 1_000_000
    # offsets <= 64 take the window strategy, > 64 the sparse one
    mix = (
        MixEntry("tighten", (AVG, LEFT), 24_000, 32),
        MixEntry("relax", (RIGHT, AVG), 3_200, 150),
    )
    warm_mix = (
        MixEntry("tighten", (AVG, LEFT), 500, 32),
        MixEntry("relax", (RIGHT, AVG), 100, 150),
    )

    def inputs(self):
        jsc = self.spark.sparkContext._jsc.sc()
        cached = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        storage = jsc.env().blockManager().memoryManager().maxOnHeapStorageMemory()
        return {
            "series_points": self.n_points,
            "candidates_per_query": [e.n_x * e.n_l for e in self.mix],
            "cached_mb": round(cached / 2**20, 1),
            "storage_memory_mb": round(storage / 2**20, 1),
        }


# ---------------------------------------------------------------------------
# graph pass
# ---------------------------------------------------------------------------


def graph_result(name: str, edges) -> dict:
    """Run one graph operator and consume its (node, value) result."""
    if name == "bfs_distances":
        df = graph.bfs_distances(edges, None)
    else:
        df = getattr(graph, name)(edges)
    pdf = df.toPandas()
    return dict(zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()))


class GraphIter(Workload):
    """One operation is a pass of pagerank, kcore, bfs_distances and
    triangle_count over a seeded power-law edge list: convergence
    loops, broadcast gates and ``operators.materialize``."""

    name = "graph_iter"
    n_nodes = 25_000
    n_edges = 100_000
    alpha = 0.8

    def prepare(self, spark, root, seed):
        self.spark = spark
        self.src, self.dst = gen.edges(seed, self.n_nodes, self.n_edges, self.alpha)
        write_parquet(root / "edges.parquet", src=self.src, dst=self.dst)
        self.edges = spark.read.parquet(str(root / "edges.parquet"))
        small = gen.edges(seed, 300, 1_500, self.alpha)
        write_parquet(root / "warm.parquet", src=small[0], dst=small[1])
        self.warm_edges = spark.read.parquet(str(root / "warm.parquet"))
        self._expected = None

    def warm(self):
        # one operator on a small graph: most of the cold cost is Spark's
        # own (planning, code generation, JIT), shared by all four
        graph_result("pagerank", self.warm_edges)

    def cycle(self, c):
        return [c]

    def run(self, op):
        return {name: graph_result(name, self.edges) for name in GRAPH_OPS}

    def check(self, op, result):
        if self._expected is None:
            self._expected = {
                name: fn(self.src, self.dst)
                for name, fn in ref.GRAPH_REFERENCE.items()
            }
        for name in GRAPH_OPS:
            if result[name] != self._expected[name]:
                return f"{name}: result differs from the NumPy reference"
        return None

    def work(self, op):
        return self.n_edges

    def digest_rows(self, op, result):
        return [(name, sorted(result[name].items())) for name in GRAPH_OPS]

    def trace(self, op, i, probe, tracer):
        s, out, calls = {}, {}, []
        with tracer.span(i, "pass") as root:
            for name in GRAPH_OPS:
                with tracer.span(i, name, "pass") as sp, probe.group(name) as g:
                    out[name] = graph_result(name, self.edges)
                calls.append((name, sp, g))
        for name, sp, g in calls:
            c = probe.counters(g)
            s[f"graph.{name}_s"] = sp.end - sp.start
            s[f"graph.{name}_jobs"] = c.jobs
            s[f"graph.{name}_shuffle_bytes"] = c.shuffle_write_bytes
        s["materialize.persisted_rdds_after"] = probe.persisted_rdds()
        return out, root.end - root.start, s

    def inputs(self):
        a, b = np.minimum(self.src, self.dst), np.maximum(self.src, self.dst)
        key = np.unique(a[a < b] * (1 << 32) + b[a < b])
        deg = np.bincount(
            np.concatenate([key >> 32, key & ((1 << 32) - 1)]), minlength=self.n_nodes
        )
        return {
            "edges": self.n_edges,
            "undirected_edges": int(key.size),
            "wedge_mass": int((deg * (deg - 1) // 2).sum()),
        }


WORKLOADS = {w.name: w for w in (Interactive, Scale, GraphIter)}


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of process ``pid``, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after full collections: what the engine
    holds on to (cached and checkpointed blocks, catalog state). Spark's
    cleaner thread frees the blocks of unreachable checkpoints only after
    a collection, so collect until three readings in a row agree."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(12):
        gc.collect()  # drop Python handles first, so the JVM objects are free
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.3)
    return readings[-1]
