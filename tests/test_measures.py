"""Per-operator unit tests on the hand-checkable series (FIXTURES.md §3):
measure kernels A1-A3 under both physical strategies (W and P),
boundary clamping, inclusive-both-ends windows."""

import pytest

from query_refinement_dsit_databases_2021_spark.operators.candidates import (
    build_candidates,
)
from query_refinement_dsit_databases_2021_spark.plans.spec import (
    ConstraintSpec,
    QuerySpec,
)

from tests.conftest import SERIES_TINY_Y
from tests.oracle_np import brute_candidates

Y = SERIES_TINY_Y


def _spec(x_dom, lx_dom, cons):
    return QuerySpec(
        table="t",
        column="y",
        x_domain=x_dom,
        lx_domain=lx_dom,
        constraints=tuple(cons),
    )


def _collect(df):
    rows = df.collect()
    return {
        (r["x"], r["lx"]): {c: r[c] for c in df.columns if c.startswith("m_")}
        for r in rows
    }


CONS_ALL = [
    ConstraintSpec("avg_amp", (), 1, 2),
    ConstraintSpec("max_amp_excess_right", (3,), -2, 0),
    ConstraintSpec("max_amp_excess_left", (4,), -2, 0),
]


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_measures_match_bruteforce(spark, series_tiny, strategy):
    spec = _spec((1, 15), (0, 5), CONS_ALL)
    seg = series_tiny  # whole table: [1, 20] covers x1 + l1 = 20
    got = _collect(build_candidates(seg, spec, 1, 20, strategy, partition_rows=4))
    want = brute_candidates([(i + 1, float(y)) for i, y in enumerate(Y)], spec)
    assert set(got) == set(want)
    for key in want:
        for col, val in want[key].items():
            assert got[key][col] == pytest.approx(val, abs=1e-9), (key, col)


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_hand_computed_values(spark, series_tiny, strategy):
    # avg_amp over [2,5] = mean(1,2,3,4) = 2.5  (inclusive both ends)
    # excess_right(3) at x=2,lx=3: win [2,5]=max 4; nbr [5, 5+3]=[4,5,5,5]->5; 4-5=-1
    # excess_left(4) at x=6,lx=2: win [6,8]=max 5; w'=min(4,6-1)=4 nbr [2,6]=max 5; 0
    spec = _spec((2, 6), (2, 3), CONS_ALL)
    got = _collect(build_candidates(series_tiny, spec, 1, 20, strategy))
    assert got[(2, 3)]["m_avg_amp"] == pytest.approx(2.5)
    assert got[(2, 3)]["m_max_amp_excess_right_3"] == pytest.approx(-1.0)
    assert got[(6, 2)]["m_max_amp_excess_left_4"] == pytest.approx(0.0)


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_edge_clamping(spark, series_tiny, strategy):
    # left neighborhood at x=1 clamps to w'=0 -> nbr=[x..x]=y[1]; excess = win_max - y[1]
    # right neighborhood at the last candidate clamps at t_end
    spec = _spec((1, 18), (2, 2), CONS_ALL)
    got = _collect(build_candidates(series_tiny, spec, 1, 20, strategy))
    # x=1: win [1,3] max=2; left w'=0 nbr [1,1]=0 -> 2-0=2
    assert got[(1, 2)]["m_max_amp_excess_left_4"] == pytest.approx(2.0)
    # x=18: win [18,20] max=1; right x'=20 lx'=min(3, 20-20)=0 nbr [20,20]=0 -> 1
    assert got[(18, 2)]["m_max_amp_excess_right_3"] == pytest.approx(1.0)


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_incomplete_windows_dropped(spark, series_tiny, strategy):
    # x+lx beyond data end must be dropped, not truncated
    spec = _spec((15, 20), (3, 8), [ConstraintSpec("avg_amp", (), None, None)])
    got = _collect(build_candidates(series_tiny, spec, 1, 20, strategy))
    assert all(x + lx <= 20 for x, lx in got)
    assert (17, 3) in got and (18, 3) not in got


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_halo_partitioning_invariant(spark, strategy):
    """Small partition blocks (forcing real halo duplication) must not
    change any measure value vs the single-block plan."""
    import numpy as np

    rng = np.random.default_rng(7)
    ys = rng.integers(-50, 50, size=300).astype(float)
    series = [(i + 1, float(y)) for i, y in enumerate(ys)]
    df = spark.createDataFrame(series, "time_id long, y double")
    spec = _spec((1, 280), (0, 6), CONS_ALL)

    a = _collect(build_candidates(df, spec, 1, 300, strategy, partition_rows=10**6))
    b = _collect(build_candidates(df, spec, 1, 300, strategy, partition_rows=30))
    want = brute_candidates(series, spec)
    assert set(a) == set(b) == set(want)
    for key in want:
        for col, val in want[key].items():
            assert a[key][col] == pytest.approx(val, abs=1e-9), (key, col)
            assert b[key][col] == pytest.approx(val, abs=1e-9), (key, col)


EXT_CONS = [
    ConstraintSpec("sum_amp", (), None, None),
    ConstraintSpec("min_amp", (), None, None),
    ConstraintSpec("range_amp", (), None, None),
]


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_extension_measures_match_bruteforce(spark, series_tiny, strategy):
    spec = _spec((1, 15), (0, 5), EXT_CONS)
    got = _collect(build_candidates(series_tiny, spec, 1, 20, strategy, partition_rows=4))
    want = brute_candidates([(i + 1, float(y)) for i, y in enumerate(Y)], spec)
    assert set(got) == set(want)
    for key in want:
        for col, val in want[key].items():
            assert got[key][col] == pytest.approx(val, abs=1e-9), (key, col)


@pytest.mark.parametrize("strategy", ["window", "pandas"])
def test_extension_measures_hand_values(spark, series_tiny, strategy):
    # series y = [0,1,2,3,4,5,5,5,5,10,0,-3,2,2,2,2,8,1,0,0] at t=1..20
    # sum_amp over [2,5]   = 1+2+3+4 = 10
    # min_amp over [10,13] = min(10,0,-3,2) = -3
    # range_amp over [9,12] = max(5,10,0,-3) - min(...) = 10 - (-3) = 13
    spec = _spec((2, 12), (3, 3), EXT_CONS)
    got = _collect(build_candidates(series_tiny, spec, 1, 20, strategy))
    assert got[(2, 3)]["m_sum_amp"] == pytest.approx(10.0)
    assert got[(10, 3)]["m_min_amp"] == pytest.approx(-3.0)
    assert got[(9, 3)]["m_range_amp"] == pytest.approx(13.0)


def test_median_measure_pandas_strategy(spark, series_tiny):
    """median_amp (non-native) matches the brute oracle and forces
    strategy P through the auto planner."""
    from query_refinement_dsit_databases_2021_spark.operators.candidates import (
        pick_strategy,
    )

    cons = [
        ConstraintSpec("median_amp", (), 1, 5),
        ConstraintSpec("avg_amp", (), 0, 10),
    ]
    spec = _spec((1, 15), (0, 5), cons)
    assert pick_strategy(spec) == "pandas"
    got = _collect(build_candidates(series_tiny, spec, 1, 20, "pandas", partition_rows=4))
    want = brute_candidates([(i + 1, float(y)) for i, y in enumerate(Y)], spec)
    assert set(got) == set(want)
    for key in want:
        for col, val in want[key].items():
            assert got[key][col] == pytest.approx(val, abs=1e-9), (key, col)
    # even count interpolates: median over [2,5] = median(1,2,3,4) = 2.5
    assert got[(2, 3)]["m_median_amp"] == pytest.approx(2.5)


def test_median_rejected_by_native_strategies(spark, series_tiny):
    from query_refinement_dsit_databases_2021_spark.errors import QueryError

    spec = _spec((1, 15), (0, 5), [ConstraintSpec("median_amp", (), 1, 5)])
    with pytest.raises(QueryError, match="median_amp"):
        build_candidates(series_tiny, spec, 1, 20, "window")


def test_python_kernel_measure_end_to_end(spark, series_tiny):
    """PythonKernelMeasure: a user kernel with the reference's UDF
    contract f(y, i, lx, args) runs through parser + engine, with the
    planner auto-selecting strategy P (SURVEY §2.11 escape hatch)."""
    from query_refinement_dsit_databases_2021_spark.operators.measures import (
        REGISTRY,
        PythonKernelMeasure,
        register_measure,
    )
    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine

    def zero_crossings(y, i, lx, args):
        win = y[i : i + lx + 1]
        return float(((win[:-1] * win[1:]) < 0).sum())

    register_measure(PythonKernelMeasure("zero_crossings", zero_crossings))
    try:
        engine = Engine(spark)
        engine.register_series("t", series_tiny)
        out = engine.execute(
            "SELECT time_id, offset IN_DOMAIN [9, 13], [3, 3]\n"
            "FROM t.y\nWHERE zero_crossings() in [1, None] MAX\n"
        )
        got = sorted((r.time_id, r.offset) for r in out.collect())
        assert engine.last_info.strategy == "pandas"
        # strict sign products: y[12..15] = -3,2,2,2 -> one crossing
        assert got == [(10, 3), (11, 3), (12, 3)]
    finally:
        REGISTRY.pop("zero_crossings", None)


def test_register_measure_extends_parser(spark, series_tiny):
    """register_measure makes a new name parseable and executable
    end-to-end (grammar extension, SURVEY §2.11)."""
    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
    from query_refinement_dsit_databases_2021_spark.plans.parser import parse_query

    spec = parse_query(
        "SELECT time_id, offset IN_DOMAIN [2, 6], [2, 3]\n"
        "FROM t.y\nWHERE sum_amp() in [9.5, 10.5] MAX\n"
    )
    assert spec.constraints[0].name == "sum_amp"
    engine = Engine(spark)
    engine.register_series("t", series_tiny)
    got = sorted((r.time_id, r.offset) for r in engine.execute(spec).collect())
    # sum over [x, x+lx] in [9.5, 10.5]: (2,3)=10 qualifies
    assert (2, 3) in got
    from query_refinement_dsit_databases_2021_spark.errors import QueryError

    with pytest.raises(QueryError):
        parse_query(
            "SELECT time_id, offset IN_DOMAIN [2, 6], [2, 3]\n"
            "FROM t.y\nWHERE sum_amp(3) in [9.5, 10.5] MAX\n"
        )


def test_values_do_not_depend_on_offset_domain_size(spark):
    """A candidate's measure values are a function of (x, lx) alone:
    growing the offset domain by one offset must leave every shared
    candidate bit-identical (a size rule that switched the physical
    strategy at 64 offsets once changed thousands of them)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    ys = np.cumsum(rng.normal(0, 10, 3000))
    df = spark.createDataFrame(
        [(i + 1, float(y)) for i, y in enumerate(ys)], "time_id long, y double"
    )
    cons = [
        ConstraintSpec("avg_amp", (), None, None),
        ConstraintSpec("sum_amp", (), None, None),
        ConstraintSpec("max_amp_excess_left", (20,), None, None),
    ]
    narrow, wide = (
        build_candidates(df, _spec((1, 2900), lx_dom, cons), 1, 3000)
        for lx_dom in ((1, 64), (1, 65))
    )
    meas = [c for c in narrow.columns if c.startswith("m_")]
    shared = narrow.alias("a").join(wide.alias("b"), ["x", "lx"])
    differ = F.lit(False)
    for c in meas:
        differ = differ | (F.col(f"a.{c}") != F.col(f"b.{c}"))
    counts = shared.agg(
        F.count("*").alias("n"), F.sum(differ.cast("int")).alias("diff")
    ).first()
    assert counts["n"] == 2900 * 64
    assert counts["diff"] == 0, f"{counts['diff']} of {counts['n']} differ"
