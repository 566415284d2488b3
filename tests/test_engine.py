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


@pytest.fixture(scope="module", params=["window"])
def engine(request, spark, series_tiny):
    """One Engine; the param is the strategy the planner must derive
    for every query these tests run (all their measures are native)."""
    eng = Engine(spark)
    eng.register_series("tiny", series_tiny)
    yield eng
    eng.close()
    assert eng.last_info.strategy == request.param


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
    (table, column, domains, measures, segment content) — bounds don't
    affect it)."""
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
    assert eng.last_info.candidates_from == "built"
    files = os.listdir(cache)
    assert len(files) == 1
    mtime = os.path.getmtime(os.path.join(cache, files[0]))
    # same measures, different bounds -> same cache entry, not rebuilt
    second = sorted(map(tuple, eng.execute(spec(2, 5)).collect()))
    assert eng.last_info.candidates_from == "parquet"
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
    # same name, different data -> the key carries the segment's
    # content, so the stale candidates are never served
    other = spark.createDataFrame(
        [(i + 1, float(y)) for i, y in enumerate(reversed(SERIES_TINY_Y))],
        "time_id long, y double",
    )
    eng.register_series("t", other)
    plain.register_series("t", other)
    fresh = sorted(map(tuple, eng.execute(spec(1, 3)).collect()))
    assert eng.last_info.candidates_from == "built"
    assert fresh != first
    assert fresh == sorted(map(tuple, plain.execute(spec(1, 3)).collect()))
    assert len(os.listdir(cache)) == 3


def test_fused_resolution_matches_resolve_domains(spark, series_tiny):
    """The engine reads open domain sides in the same scan as its
    segment statistics; every combination of open sides, and x-domains
    that end before or start after the data, must behave exactly like
    resolving first with ``resolve_domains``."""
    from itertools import product

    from query_refinement_dsit_databases_2021_spark.plans.domains import (
        resolve_domains,
    )

    eng = Engine(spark)
    eng.register_series("tiny", series_tiny)
    cons = [ConstraintSpec("avg_amp", (), 2, 4)]

    def outcome(spec):
        try:
            rows = _pairs(eng.execute(spec))
        except Exception as ex:  # noqa: BLE001 - the class is compared
            return type(ex)
        return rows, eng.last_info.spec

    concrete = (3, 14, 2, 4)  # x_lo, x_hi, lx_lo, lx_hi
    domains = [
        tuple(v if keep else None for v, keep in zip(concrete, mask))
        for mask in product((True, False), repeat=4)
    ]
    domains += [(-10, -5, None, None), (25, 30, None, None), (None, None, None, -2)]
    for x_lo, x_hi, lx_lo, lx_hi in domains:
        spec = _spec((x_lo, x_hi), (lx_lo, lx_hi), cons)
        want = outcome(resolve_domains(series_tiny, spec))
        assert outcome(spec) == want, (x_lo, x_hi, lx_lo, lx_hi)


def test_engine_keeps_one_candidates_frame(spark, series_tiny, tmp_path):
    """Refined queries persist their candidates; an engine keeps only
    the last query's, K2-cache reloads included, and a result returned
    earlier still collects the same rows after its frame is released."""
    jsc = spark.sparkContext._jsc
    cons = [ConstraintSpec("avg_amp", (), 1, 5, "maximization")]

    def spec(x0):
        return _spec((x0, x0 + 8), (1, 3), cons, k=4, refined=True)

    before = jsc.getPersistentRDDs().size()
    eng = Engine(spark)
    eng.register_series("tiny", series_tiny)
    first = eng.execute(spec(1))
    want = _pairs(first)
    for x0 in range(2, 7):
        eng.execute(spec(x0)).collect()
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert _pairs(first) == want
    eng.close()
    assert jsc.getPersistentRDDs().size() <= before

    cached = Engine(spark, cache_dir=str(tmp_path))
    cached.register_series("tiny", series_tiny)
    for x0 in (1, 2, 1, 2, 1):  # builds, then reloads from parquet
        cached.execute(spec(x0)).collect()
    assert jsc.getPersistentRDDs().size() - before <= 1
    cached.close()


def test_held_candidates_outlive_a_released_cache_entry(spark, series_tiny):
    """Plan-equal candidates frames share one Spark cache entry, so
    another engine's close() releases this engine's held frame too: the
    next re-bound query rebuilds rather than reading an uncached frame
    twice, and returns a fresh engine's rows. A table re-registered with
    new content never hits the held frame."""

    def spec(lo, hi):
        cons = [ConstraintSpec("avg_amp", (), lo, hi, "maximization")]
        return _spec((1, 12), (1, 3), cons, k=4, refined=True)

    eng, other = Engine(spark), Engine(spark)
    for e in (eng, other):
        e.register_series("tiny", series_tiny)
    eng.execute(spec(1, 3)).collect()
    other.execute(spec(1, 3)).collect()
    eng.execute(spec(2, 4)).collect()
    assert eng.last_info.candidates_from == "held"
    other.close()
    rows = _pairs(eng.execute(spec(2, 5)))
    assert eng.last_info.candidates_from == "built"
    fresh = Engine(spark)
    fresh.register_series("tiny", series_tiny)
    assert rows == _pairs(fresh.execute(spec(2, 5)))
    fresh.close()

    changed = spark.createDataFrame(
        [(i + 1, float(y)) for i, y in enumerate(reversed(SERIES_TINY_Y))],
        "time_id long, y double",
    )
    eng.register_series("tiny", changed)
    fresh.register_series("tiny", changed)
    rows = _pairs(eng.execute(spec(2, 5)))
    assert eng.last_info.candidates_from == "built"
    assert rows == _pairs(fresh.execute(spec(2, 5)))
    eng.close()
    fresh.close()


def test_wide_offset_domain_leaves_nothing_persisted(spark):
    """Refined queries over a 100-offset domain hold nothing past
    ``Engine.close()``: the candidate build persists no helper table of
    its own."""
    import math

    jsc = spark.sparkContext._jsc
    series = spark.createDataFrame(
        [(i, 1.5 + math.sin(i / 7.0)) for i in range(1, 401)],
        "time_id long, y double",
    )
    cons = [ConstraintSpec("avg_amp", (), 1, 2, "maximization")]
    before = jsc.getPersistentRDDs().size()
    eng = Engine(spark)
    eng.register_series("wide", series)
    for x0 in (1, 51, 101):
        spec = QuerySpec(
            table="wide", column="y", x_domain=(x0, x0 + 150),
            lx_domain=(1, 100), constraints=tuple(cons), cardinality=5,
            refined=True,
        )
        assert len(eng.execute(spec).collect()) == 5
    eng.close()
    assert jsc.getPersistentRDDs().size() == before


def test_session_disables_dataframe_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
