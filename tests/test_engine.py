"""End-to-end engine tests on the hand-checkable series: unrefined /
exact / tighten / relax dispatch, domain resolution, guards — each
compared against the brute-force NumPy oracle (SURVEY §5.2)."""

import pytest

from query_refinement_dsit_databases_2021_spark.errors import (
    DataVariabilityError,
    QueryError,
)
from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
from query_refinement_dsit_databases_2021_spark.plans.spec import (
    ConstraintSpec,
    QuerySpec,
)

from tests.conftest import SERIES_TINY_Y
from tests.oracle_np import brute_execute

SERIES = [(i + 1, float(y)) for i, y in enumerate(SERIES_TINY_Y)]


@pytest.fixture(scope="module", params=["window", "sparse"])
def engine(request, spark, series_tiny):
    eng = Engine(spark, strategy=request.param)
    eng.register_series("tiny", series_tiny)
    return eng


def _pairs(df):
    return sorted((r["time_id"], r["offset"]) for r in df.collect())


def _spec(x_dom, lx_dom, cons, k=None, refined=False):
    return QuerySpec(
        table="tiny",
        column="y",
        x_domain=x_dom,
        lx_domain=lx_dom,
        constraints=tuple(cons),
        cardinality=k,
        refined=refined,
    )


def test_unrefined_full_set(engine):
    spec = _spec((1, 15), (1, 4), [ConstraintSpec("avg_amp", (), 2, 4)])
    want, action = brute_execute(SERIES, spec)
    assert action == "all"
    assert _pairs(engine.execute(spec)) == want
    assert engine.last_info.action == "all"


def test_unrefined_limit_is_subset(engine):
    cons = [ConstraintSpec("avg_amp", (), 2, 4)]
    full, _ = brute_execute(SERIES, _spec((1, 15), (1, 4), cons))
    spec = _spec((1, 15), (1, 4), cons, k=3)
    got = _pairs(engine.execute(spec))
    # arbitrary-k contract (reference branch order is random, T1)
    assert len(got) == 3 and set(got) <= set(full)


def test_refined_exact_count_passthrough(engine):
    cons = [ConstraintSpec("avg_amp", (), 2, 4)]
    full, _ = brute_execute(SERIES, _spec((1, 15), (1, 4), cons))
    spec = _spec((1, 15), (1, 4), cons, k=len(full), refined=True)
    assert _pairs(engine.execute(spec)) == full
    assert engine.last_info.action == "exact"


def test_tightening_topk_by_rank(engine):
    cons = [
        ConstraintSpec("avg_amp", (), 1, 5, "maximization"),
        ConstraintSpec("max_amp_excess_left", (4,), -10, 10, "minimization"),
    ]
    spec = _spec((1, 15), (1, 4), cons, k=5, refined=True)
    want, action = brute_execute(SERIES, spec)
    assert action == "tighten"
    assert _pairs(engine.execute(spec)) == want
    assert engine.last_info.action == "tighten"


def test_relaxation_appends_best_failing(engine):
    # satisfiable by few windows; relax to reach k
    cons = [ConstraintSpec("avg_amp", (), 4.9, 5.1)]
    spec = _spec((1, 15), (1, 3), cons, k=10, refined=True)
    want, action = brute_execute(SERIES, spec)
    assert action == "relax"
    got = _pairs(engine.execute(spec))
    assert got == want
    assert engine.last_info.action == "relax"


def test_relaxed_additions_fail_originals_with_rp_le_1(engine, spark):
    cons = [ConstraintSpec("avg_amp", (), 4.9, 5.1)]
    spec = _spec((1, 15), (1, 3), cons, k=10, refined=True)
    df = engine.execute(spec, include_scores=True)
    rows = df.collect()
    assert all(0.0 <= r["rp"] <= 1.0 for r in rows)
    n_passing = sum(1 for r in rows if r["rp"] == 0.0)
    assert 0 < n_passing < 10 and len(rows) == 10


def test_three_constraint_relax_matches_oracle(engine):
    cons = [
        ConstraintSpec("avg_amp", (), 1, 2, "maximization"),
        ConstraintSpec("max_amp_excess_left", (4,), -2, 0, "maximization"),
        ConstraintSpec("max_amp_excess_right", (4,), -2, 0, "maximization"),
    ]
    spec = _spec((1, 12), (2, 5), cons, k=15, refined=True)
    want, action = brute_execute(SERIES, spec)
    got = _pairs(engine.execute(spec))
    assert got == want, action


def test_none_domain_resolution(engine):
    # None domains: x -> [min,max]; lx -> [1, max-min+1] (server.py:172-181)
    spec = _spec((None, None), (None, None), [ConstraintSpec("avg_amp", (), 2, 4)])
    resolved_equiv = _spec((1, 20), (1, 20), [ConstraintSpec("avg_amp", (), 2, 4)])
    want, _ = brute_execute(SERIES, resolved_equiv)
    assert _pairs(engine.execute(spec)) == want
    assert engine.last_info.spec.x_domain == (1, 20)
    assert engine.last_info.spec.lx_domain == (1, 20)


def test_variability_guard(spark):
    flat = spark.createDataFrame(
        [(i + 1, 3.0) for i in range(50)], "time_id long, y double"
    )
    eng = Engine(spark)
    eng.register_series("tiny", flat)
    with pytest.raises(DataVariabilityError):
        eng.execute(_spec((1, 30), (1, 3), [ConstraintSpec("avg_amp", (), 0, 1)]))


def test_gap_detection(spark):
    gappy = spark.createDataFrame(
        [(t, float(t)) for t in range(1, 40) if t != 17], "time_id long, y double"
    )
    eng = Engine(spark)
    eng.register_series("tiny", gappy)
    with pytest.raises(QueryError, match="gaps"):
        eng.execute(_spec((1, 30), (1, 3), [ConstraintSpec("avg_amp", (), 0, 1)]))


def test_null_values_rejected(spark):
    holey = spark.createDataFrame(
        [(t, None if t == 17 else float(t)) for t in range(1, 40)],
        "time_id long, y double",
    )
    eng = Engine(spark)
    eng.register_series("tiny", holey)
    with pytest.raises(QueryError, match="nulls"):
        eng.execute(_spec((1, 30), (1, 3), [ConstraintSpec("avg_amp", (), 0, 1)]))


def test_unknown_table_and_column(spark):
    eng = Engine(spark)
    with pytest.raises(QueryError):
        eng.execute(_spec((1, 5), (1, 2), [ConstraintSpec("avg_amp", (), 0, 1)]))


def test_query_text_end_to_end(engine):
    df = engine.execute(
        "SELECT time_id, offset IN_DOMAIN [1, 15], [1, 4]\n"
        "FROM tiny.y\n"
        "WHERE avg_amp() in [2, 4] MAX\n"
    )
    want, _ = brute_execute(
        SERIES, _spec((1, 15), (1, 4), [ConstraintSpec("avg_amp", (), 2, 4)])
    )
    assert _pairs(df) == want
    assert df.columns == ["time_id", "offset"]


def test_udf_map_parquet_cache(spark, tmp_path, series_tiny):
    """K2: candidates cache round-trips through parquet and is reused
    across executions AND constraint-bound changes (the cache key is
    (table, column, domains, measures) — bounds don't affect it)."""
    import os

    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
    from query_refinement_dsit_databases_2021_spark.plans.spec import (
        ConstraintSpec,
        QuerySpec,
    )

    cache = str(tmp_path / "udfcache")
    os.makedirs(cache)
    eng = Engine(spark, cache_dir=cache)
    eng.register_series("t", series_tiny)

    def spec(lo, hi):
        return QuerySpec(
            "t", "y", (2, 10), (2, 4),
            (ConstraintSpec("avg_amp", (), lo, hi),),
        )

    first = sorted(map(tuple, eng.execute(spec(1, 3)).collect()))
    files = os.listdir(cache)
    assert len(files) == 1
    mtime = os.path.getmtime(os.path.join(cache, files[0]))
    # same measures, different bounds -> same cache entry, not rebuilt
    second = sorted(map(tuple, eng.execute(spec(2, 5)).collect()))
    assert os.listdir(cache) == files
    assert os.path.getmtime(os.path.join(cache, files[0])) == mtime
    # results match an uncached engine exactly
    plain = Engine(spark)
    plain.register_series("t", series_tiny)
    assert first == sorted(map(tuple, plain.execute(spec(1, 3)).collect()))
    assert second == sorted(map(tuple, plain.execute(spec(2, 5)).collect()))
    # different domains -> a second cache entry
    eng.execute(
        QuerySpec("t", "y", (2, 8), (2, 4), (ConstraintSpec("avg_amp", (), 1, 3),))
    ).collect()
    assert len(os.listdir(cache)) == 2


def test_udf_map_cache_auto_threshold(spark, tmp_path, series_tiny):
    """K2 time trigger (reference:src/server.py:264): with
    cache_auto_seconds set, the build self-caches only when it exceeds
    the threshold; a second execute() then reads the parquet cache."""
    import os

    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
    from query_refinement_dsit_databases_2021_spark.plans.spec import (
        ConstraintSpec,
        QuerySpec,
    )

    spec = QuerySpec(
        "t", "y", (2, 10), (2, 4), (ConstraintSpec("avg_amp", (), 1, 3),)
    )

    # threshold no real build can beat -> never caches
    cold = str(tmp_path / "cold")
    os.makedirs(cold)
    eng = Engine(spark, cache_dir=cold, cache_auto_seconds=1e9)
    eng.register_series("t", series_tiny)
    baseline = sorted(map(tuple, eng.execute(spec).collect()))
    assert os.listdir(cold) == []

    # zero threshold -> every build is "slow", triggering the
    # reference's >300s pickle behavior
    hot = str(tmp_path / "hot")
    os.makedirs(hot)
    eng2 = Engine(spark, cache_dir=hot, cache_auto_seconds=0.0)
    eng2.register_series("t", series_tiny)
    first = sorted(map(tuple, eng2.execute(spec).collect()))
    files = os.listdir(hot)
    assert len(files) == 1
    # second execute() reads the parquet cache (entry untouched) and
    # returns identical rows
    mtime = os.path.getmtime(os.path.join(hot, files[0]))
    second = sorted(map(tuple, eng2.execute(spec).collect()))
    assert os.listdir(hot) == files
    assert os.path.getmtime(os.path.join(hot, files[0])) == mtime
    assert first == second == baseline
