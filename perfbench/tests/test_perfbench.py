import json
import os
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen
from perfbench import reference as ref
from perfbench.gen import MixEntry
from perfbench.probe import Counters, SparkProbe, Tracer
from perfbench.run import END_TO_END, WORKLOAD_NAMES
from perfbench.workloads import (
    GRAPH_OPS,
    PER_LAYER,
    Interactive,
    graph_result,
    write_parquet,
)
from query_refinement_dsit_databases_2021_spark.plans.executor import Engine

REPO = Path(__file__).resolve().parents[2]

# one query of every action and both candidate strategies, small enough
# for a test, plus open domain bounds on three sides
AVG, LEFT, RIGHT = ("avg_amp", None), ("max_amp_excess_left", 9), (
    "max_amp_excess_right", 6,
)
SMALL_MIX = (
    MixEntry("all", (AVG,), 120, 8),
    MixEntry("limit", (AVG, LEFT), 120, 8, open_side="x_lo"),
    MixEntry("exact", (AVG, LEFT, RIGHT), 120, 8, open_side="lx_lo"),
    MixEntry("tighten", (LEFT, RIGHT), 120, 8),
    MixEntry("relax", (RIGHT, AVG, LEFT), 120, 8, open_side="x_hi"),
    MixEntry("tighten", (AVG, RIGHT), 40, 80),
    MixEntry("relax", (LEFT, AVG), 40, 80),
)


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    y = gen.series(7, 3000)
    path = tmp_path_factory.mktemp("series") / "s.parquet"
    write_parquet(path, time_id=np.arange(1, y.size + 1, dtype=np.int64), v=y)
    engine = Engine(spark)
    engine.register_parquet("s", str(path))
    return y, engine


def test_probe_counts_known_jobs(spark):
    probe = SparkProbe(spark)
    with probe.group("rdd") as g:
        spark.sparkContext.parallelize(range(100), 3).count()
    c = probe.counters(g)
    assert (c.jobs, c.stages, c.tasks) == (1, 1, 3)
    assert c.shuffle_write_bytes == 0
    with probe.group("groupby") as g:
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    c = probe.counters(g)
    assert c.shuffle_write_bytes > 0 and c.shuffle_read_bytes > 0
    # adaptive execution runs the shuffle map stage as its own job
    assert c.jobs == 2
    assert 0 < c.busy_s() <= sum(b - a for a, b in c.job_intervals)


def test_busy_time_is_the_union_of_job_intervals():
    c = Counters(job_intervals=[(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)])
    assert c.busy_s() == 4.0


def test_tracer_self_time_subtracts_children():
    t = Tracer()
    with t.span(0, "op"):
        with t.span(0, "child", "op"):
            pass
    own = t.self_times()
    root = next(s for s in t.spans if s.name == "op")
    child = next(s for s in t.spans if s.name == "child")
    assert own["op"][0] == pytest.approx(
        (root.end - root.start) - (child.end - child.start)
    )


def _unkey(k) -> tuple[int, int]:
    return int(k >> 22), int(k & ((1 << 22) - 1))


def test_reference_agrees_with_engine_and_flags_perturbations(small):
    y, engine = small
    for i, entry in enumerate(SMALL_MIX):
        q = gen.cp_query(y, 3, "interactive", i, SMALL_MIX, "s")
        rows = [(r[0], r[1]) for r in engine.execute(q.text).collect()]
        assert engine.last_info.action == entry.action
        assert ref.check_rows(q.exp, rows) is None, q.text
        # drop one row, or swap it for a candidate the answer left out
        assert ref.check_rows(q.exp, rows[1:]) is not None
        chosen = set(rows)
        outsider = next(_unkey(k) for k in q.exp.keys if _unkey(k) not in chosen)
        if entry.action != "limit":  # any passing subset answers a LIMIT
            assert ref.check_rows(q.exp, rows[1:] + [outsider]) is not None


def test_stream_reference_agrees_with_refine_trigger(spark, tmp_path):
    wl = Interactive()
    wl.n_points, wl.stream_points = 2000, 1200
    wl.prepare(spark, tmp_path, 5)
    triggers = wl._triggers(0)
    for t in triggers:
        wl.run(t)
        assert wl.check(t, t.batch) is None
    last = triggers[-1]
    rows = spark.read.parquet(str(last.root / "results")).where(
        f"batch_id = {last.batch}"
    )
    got = [(r[0], r[1]) for r in rows.collect()]
    assert ref.check_rows(last.exp, got) is None
    assert ref.check_rows(last.exp, got[1:]) is not None


def test_graph_reference_agrees_with_operators(spark, tmp_path):
    src, dst = gen.edges(11, 400, 3000, 0.8)
    write_parquet(tmp_path / "e.parquet", src=src, dst=dst)
    edges = spark.read.parquet(str(tmp_path / "e.parquet"))
    for name in GRAPH_OPS:
        got = graph_result(name, edges)
        want = ref.GRAPH_REFERENCE[name](src, dst)
        assert got == want, name
        node = next(iter(got))
        assert {**got, node: got[node] + 1} != want


def _inputs(seed: int, d: Path):
    y = gen.series(seed, 5000)
    write_parquet(d / "s.parquet", v=y)
    src, dst = gen.edges(seed, 500, 4000, 0.8)
    write_parquet(d / "e.parquet", src=src, dst=dst)
    texts = [
        gen.cp_query(y, seed, "interactive", i, SMALL_MIX, "s").text
        for i in range(len(SMALL_MIX))
    ]
    texts.append(gen.stream_plan(y[:2000], seed, 0, 2, SMALL_MIX[3], 10, "st").text)
    return (d / "s.parquet").read_bytes(), (d / "e.parquet").read_bytes(), texts


def test_one_seed_yields_byte_identical_inputs(tmp_path):
    a = _inputs(42, tmp_path / "a")
    assert a == _inputs(42, tmp_path / "b")
    other = _inputs(43, tmp_path / "c")
    assert all(x != y for x, y in zip(a, other))


def test_realized_action_counts_match_the_mix(spark, tmp_path):
    wl = Interactive()
    wl.n_points, wl.stream_points = 3000, 1200
    wl.mix = tuple(
        MixEntry(e.action, e.measures, 100, 8, open_side=e.open_side) for e in wl.mix
    )
    wl.prepare(spark, tmp_path, 9)
    probe, tracer = SparkProbe(spark), Tracer()
    samples = [wl.trace(op, i, probe, tracer)[2] for i, op in enumerate(wl.cycle(0))]
    got = wl.summarize(samples)
    want = {
        a: sum(e.action == a for e in wl.mix)
        for a in ("all", "limit", "exact", "tighten", "relax")
    }
    assert {a: got[f"executor.action_{a}"] for a in want} == want
    assert got["candidates.strategy_window"] == len(wl.mix)
    assert got["refine.trigger_jobs"] > 0 and got["refine.series_files"] >= 2


def test_benchmark_json_matches_the_code():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOAD_NAMES)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in PER_LAYER
    ]
    assert all(os.path.isdir(REPO / p) for p in spec["paths"])
